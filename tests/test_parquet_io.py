"""The pinned-schema parquet path (agrobr_spark/io.py): warm reads and
write->read-backs submit no Spark job, and a pin never outlives the
content it was taken from."""

from __future__ import annotations

import datetime as dt
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from agrobr_spark import io
from agrobr_spark.io import TABLES, load, read_parquet, write_parquet

from tests.conftest import SF_SMOKE

PACKAGE = Path(__file__).resolve().parents[1] / "agrobr_spark"


def _jobs(spark, fn):
    """(fn(), Spark jobs fn submitted), from the scheduler's job-id
    counter."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    out = fn()
    return out, sched.nextJobId() - before


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_warm_load_of_every_fixture_table_submits_no_job(spark):
    cold = {name: load(spark, SF_SMOKE, name).schema for name in TABLES}
    warm, jobs = _jobs(
        spark,
        lambda: {name: load(spark, SF_SMOKE, name).schema for name in TABLES},
    )
    assert jobs == 0
    assert warm == cold


def test_write_read_round_trip_submits_no_job(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", [1.5], 0), (2, None, [], 1)],
        "id bigint not null, s string, v array<double>, k int",
    )
    for sub, parts in (("flat", ()), ("parted", ("k",))):
        path = str(tmp_path / sub)
        write_parquet(df, path, parts)
        got, jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert jobs == 0
        inferred = spark.read.parquet(path)
        assert got.schema == inferred.schema
        assert _rows(got) == _rows(inferred) == _rows(df.select(*got.columns))


def test_rewrite_with_a_different_schema_reads_the_new_schema(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    write_parquet(spark.createDataFrame([(1,)], "a int"), path)
    assert read_parquet(spark, path).columns == ["a"]
    # a writer that bypasses the helper (another process, say)
    spark.createDataFrame([(2, "x")], "a bigint, b string").write.mode(
        "overwrite"
    ).parquet(path)
    got = read_parquet(spark, path)
    assert got.dtypes == [("a", "bigint"), ("b", "string")]
    assert _rows(got) == [(2, "x")]
    write_parquet(spark.createDataFrame([(3.0,)], "c double"), path)
    assert read_parquet(spark, path).dtypes == [("c", "double")]
    # a single file rewritten in place, not by Spark
    one = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": [1]}), one)
    assert read_parquet(spark, one).columns == ["a"]
    pq.write_table(pa.table({"z": ["x"], "y": [2.0]}), one)
    assert read_parquet(spark, one).dtypes == [
        ("z", "string"), ("y", "double")
    ]


def test_new_partition_value_changes_the_partition_type(spark, tmp_path):
    path = str(tmp_path / "t")
    write_parquet(
        spark.createDataFrame([(1, "1"), (2, "2")], "v int, k string"),
        path,
        ("k",),
    )
    first = read_parquet(spark, path)
    assert dict(first.dtypes)["k"] == "int"  # inferred from k=1, k=2
    write_parquet(
        spark.createDataFrame([(3, "x")], "v int, k string"),
        path,
        ("k",),
        mode="append",
    )
    got = read_parquet(spark, path)
    assert got.dtypes == [("v", "int"), ("k", "string")]
    assert _rows(got) == [(1, "1"), (2, "2"), (3, "x")]


def test_stale_pin_is_never_served(spark, tmp_path, monkeypatch):
    """Content that changes between keying the path and Spark's listing
    drops the pin: the read infers instead."""
    path = str(tmp_path / "t")
    write_parquet(spark.createDataFrame([(1,)], "a int"), path)
    real = io._content
    calls = []

    def moving(local):
        calls.append(local)
        got = real(local)
        return got if len(calls) == 1 else ((0, 0, b"moved"), got[1])

    monkeypatch.setattr(io, "_content", moving)
    _, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 1


def test_paths_spark_resolves_elsewhere_are_not_pinned(spark, tmp_path):
    assert io._local_path(spark, "s3a://bucket/t") is None
    assert io._local_path(spark, f"{tmp_path}/*.parquet") is None
    assert io._local_path(spark, f"file:{tmp_path}") == str(tmp_path)


def test_empty_partitioned_write_still_fails_to_infer(spark, tmp_path):
    path = str(tmp_path / "t")
    write_parquet(spark.createDataFrame([], "v int, k int"), path, ("k",))
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet(spark, path)


def test_parquet_store_write_paths_pin_their_read_back(spark, tmp_path):
    from agrobr_spark.store.table import ParquetStore, compact

    store = ParquetStore(spark, str(tmp_path / "s"), ("k",), "p")
    schema = "k int, v string, p int"
    steps = [
        lambda: store.overwrite(
            spark.createDataFrame([(1, "a", 0), (2, "b", 1)], schema)
        ),
        lambda: store.merge_upsert(
            spark.createDataFrame([(2, "c", 1), (3, "d", 2)], schema)
        ),
        lambda: store.rewrite(store.read().filter("k > 1")),
        lambda: compact(store),
    ]
    for step in steps:
        step()
        got, jobs = _jobs(spark, store.read)
        assert jobs == 0
        assert got.schema == spark.read.parquet(store.path).schema
    assert _rows(store.read()) == [(2, "c", 1), (3, "d", 2)]


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_normalized_under_both_encodings(spark, tmp_path, unit):
    """``events.ts`` has shipped as TIMESTAMP(NANOS) and as tz-less
    TIMESTAMP(MICROS); cold and warm loads normalize both to the same
    TIMESTAMP (the file's wall clock as a UTC instant)."""
    wall = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901), dt.datetime(2023, 6, 1)]
    ts = pa.array(wall, type=pa.timestamp(unit))
    pq.write_table(
        pa.table({"id": [1, 2], "ts": ts}), str(tmp_path / "events.parquet")
    )
    flag = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(flag, None)
    cold = load(spark, str(tmp_path), "events")
    warm, jobs = _jobs(spark, lambda: load(spark, str(tmp_path), "events"))
    assert jobs == 0
    for df in (cold, warm):
        assert dict(df.dtypes)["ts"] == "timestamp"
        micros = [
            r[0]
            for r in df.orderBy("id").selectExpr("unix_micros(ts)").collect()
        ]
        us = dt.timedelta(microseconds=1)
        assert micros == [(w - dt.datetime(1970, 1, 1)) // us for w in wall]
    # the legacy flag stays scoped to the load
    assert spark.conf.get(flag, None) == before


def test_footer_schema_cache_is_thread_safe():
    """Pool threads share the process-wide cache: concurrent puts and
    gets never return another key's schema nor outgrow the bound."""
    import sys
    import threading

    from pyspark.sql import types as T

    cache = io.FooterSchemaCache()
    schema = [
        T.StructType([T.StructField(f"c{i}", T.LongType())])
        for i in range(2 * cache.MAXSIZE)
    ]
    wrong = []

    def work(offset):
        for i in range(3000):
            k = (offset + 7 * i) % len(schema)
            cache.put(k, schema[k])
            got = cache.get((k + 1) % len(schema))
            if got is not None and got is not schema[(k + 1) % len(schema)]:
                wrong.append(k)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=work, args=(j,)) for j in range(16)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not wrong
    assert len(cache._entries) == cache.MAXSIZE


#: ``<x>.read`` plus optional option/options/schema/format calls, then
#: ``.parquet(`` — a parquet read that skips the pinned-schema helper
_RAW_READ = re.compile(
    r"\bread\b(?:\s*\.\s*(?:option|options|schema|format)\s*\([^()]*"
    r"(?:\([^()]*\)[^()]*)*\))*\s*\.\s*parquet\s*\("
)


def test_every_parquet_read_goes_through_the_helper():
    """A ``spark.read...parquet(`` outside io.py brings back one
    footer-inference job per read."""
    offenders = []
    for f in sorted(PACKAGE.rglob("*.py")):
        if f == PACKAGE / "io.py":
            continue
        src = f.read_text(encoding="utf-8")
        for m in _RAW_READ.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            offenders.append(f"{f.relative_to(PACKAGE.parent)}:{line}")
    assert not offenders, (
        "parquet reads outside agrobr_spark/io.py (use io.read_parquet): "
        + ", ".join(offenders)
    )
