"""The two shared harnesses: ``session.run_concurrently`` (every
thread-pool overlap of Spark actions) and ``streaming_ops._fold_stream``
(every id-ranged ingest stream), plus the guard that keeps both the
only places their idioms are spelled out."""

from __future__ import annotations

import ast
import re
import tempfile
import threading
import time
from pathlib import Path

import pytest

from agrobr_spark.queries.streaming_ops import _fold_stream
from agrobr_spark.session import run_concurrently

PACKAGE = Path(__file__).resolve().parents[1] / "agrobr_spark"


def test_run_concurrently_returns_results_in_order(spark):
    def after(delay, value):
        def thunk():
            time.sleep(delay)
            return value

        return thunk

    # the slowest thunk is submitted first: order is submission order
    got = run_concurrently(spark, after(0.3, "a"), after(0.0, "b"),
                           after(0.1, "c"))
    assert got == ["a", "b", "c"]


def test_run_concurrently_joins_all_then_raises_first(spark):
    finished = []

    def first():
        time.sleep(0.2)
        raise ValueError("first")

    def second():
        raise KeyError("second")

    def slow():
        time.sleep(0.5)
        finished.append("slow")

    # ``second`` fails earliest in time, ``first`` earliest in
    # submission order; the slow thunk is still joined before raising
    with pytest.raises(ValueError, match="first"):
        run_concurrently(spark, first, second, slow)
    assert finished == ["slow"]


def test_run_concurrently_jobs_join_the_callers_group(spark):
    """Pinned-thread mode only: with PYSPARK_PIN_THREAD=false py4j
    serves a Python thread's calls from any JVM thread, so job-group
    local properties cannot follow a worker (see run_concurrently)."""
    from py4j.clientserver import ClientServer
    from pyspark import SparkContext

    if not isinstance(SparkContext._gateway, ClientServer):
        pytest.skip("job groups are per JVM thread; threads are not pinned")
    sc = spark.sparkContext
    group = "run-concurrently-group"
    seen = []

    def job(n):
        def thunk():
            seen.append(sc.getLocalProperty("spark.jobGroup.id"))
            return spark.range(n).count()

        return thunk

    sc.setJobGroup(group, "run_concurrently test")
    try:
        got = run_concurrently(spark, job(3), job(5))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == [3, 5]
    assert seen == [group, group]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2


def test_run_concurrently_non_pinned_branch(spark, monkeypatch):
    """Under PYSPARK_PIN_THREAD=false pyspark's wrapper returns its
    argument (the session) unchanged; the raw thunks must run."""
    import pyspark

    monkeypatch.setattr(pyspark, "inheritable_thread_target", lambda f=None: f)
    got = run_concurrently(
        spark, lambda: spark.range(4).count(), lambda: "plain"
    )
    assert got == [4, "plain"]


def _record_mkdtemp(monkeypatch, prefix):
    made = []
    real = tempfile.mkdtemp

    def mkdtemp(*args, **kwargs):
        path = real(*args, **kwargs)
        if str(kwargs.get("prefix", "")).startswith(prefix):
            made.append(path)
        return path

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    return made


def test_fold_stream_replays_chunk_zero_and_removes_ingest(
    spark, monkeypatch
):
    made = _record_mkdtemp(monkeypatch, "fold_ok")
    staged = spark.range(9).selectExpr("id AS doc_id", "id * 2 AS v")
    calls, built = [], threading.Event()

    def handle(batch, batch_id):
        calls.append((batch_id, sorted(r["doc_id"] for r in batch.collect())))

    _fold_stream(
        spark, staged, handle, "fold_ok", id_col="doc_id",
        build=built.set, replay=True,
    )
    assert built.is_set()
    assert calls == [
        (0, [0, 1, 2]), (1, [3, 4, 5]), (2, [6, 7, 8]), (0, [0, 1, 2])
    ]
    assert len(made) == 1 and not Path(made[0]).exists()


def test_fold_stream_removes_ingest_after_handler_error(
    spark, monkeypatch
):
    made = _record_mkdtemp(monkeypatch, "fold_err")
    staged = spark.range(6).selectExpr("id AS doc_id")

    def handle(batch, batch_id):
        if batch_id == 1:
            raise RuntimeError("handler boom")

    with pytest.raises(Exception, match="handler boom"):
        _fold_stream(spark, staged, handle, "fold_err", id_col="doc_id")
    assert len(made) == 1 and not Path(made[0]).exists()


#: (file under agrobr_spark/, enclosing function) allowed to call
#: ``.foreachBatch(``: the ingest-stream harness, the benchmarked
#: MERGE stream, and the streaming library's two public sinks
_FOREACHBATCH_OWNERS = {
    ("queries/streaming_ops.py", "_fold_stream"),
    ("queries/streaming_ops.py", "stream_upsert_merge"),
    ("streaming/upsert.py", "stream_upsert_indicadores"),
    ("streaming/alerts.py", "alert_sink"),
}
_THREAD_POOL = re.compile(r"\b(ThreadPoolExecutor|inheritable_thread_target)\b")
_FOREACHBATCH = re.compile(r"\.\s*foreachBatch\s*\(")


def _enclosing_functions(src):
    """line -> name of the outermost function containing it."""
    owner = {}
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for line in range(node.lineno, node.end_lineno + 1):
                owner[line] = node.name
    return owner


def test_thread_pools_and_foreachbatch_stay_in_their_helpers():
    """Thread pools go through session.run_concurrently (one job-group
    and error policy); ingest streams go through _fold_stream (one
    staging, drain and cleanup lifecycle)."""
    offenders = []
    for f in sorted(PACKAGE.rglob("*.py")):
        rel = f.relative_to(PACKAGE).as_posix()
        src = f.read_text(encoding="utf-8")
        owner = _enclosing_functions(src)
        for pattern, allowed in (
            (_THREAD_POOL, lambda fn: rel == "session.py"),
            (_FOREACHBATCH, lambda fn: (rel, fn) in _FOREACHBATCH_OWNERS),
        ):
            for m in pattern.finditer(src):
                line = src.count("\n", 0, m.start()) + 1
                if not allowed(owner.get(line)):
                    offenders.append(f"agrobr_spark/{rel}:{line}")
    assert not offenders, (
        "thread pool or foreachBatch outside session.run_concurrently / "
        "streaming_ops._fold_stream: " + ", ".join(offenders)
    )
