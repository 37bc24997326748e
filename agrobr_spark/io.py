"""Table loading and the package's one parquet read/write path.

:func:`load` is the single place that knows the sf-dir layout
(TESTDATA.md): one parquet file per table. At cluster scale these
become partitioned table reads; the call sites stay identical.
:func:`pin` is the package's one eager in-memory pin, its aggregate
metrics riding the pin's own job.

Footer-schema pinning
---------------------

On Spark 4 every ``spark.read.parquet(path)`` without a schema runs one
footer-inference job (``mergeSchemasInParallel``); the same read with
``.schema(s)`` runs none. At the catalog's scale, fixed per-job cost
dominates, so every parquet read in the package goes through
:func:`read_parquet`, which pins the schema it has already seen for the
same content, and every write that is read back goes through
:func:`write_parquet`, which records the schema it just wrote.

- **Cache key.** ``(content key, inference confs)`` in a bounded,
  process-wide LRU (:data:`FOOTER_SCHEMAS`). The content key is the
  ``(device, inode)`` of the local file or directory plus a digest of
  ``(size, mtime_ns)`` for a file, or of ``(relative name, size,
  mtime_ns)`` of every entry under a directory. It names what the path
  holds, not the path, so a staged directory renamed into place keeps
  its pin. The inference confs are the session values that change what
  inference returns (``spark.sql.legacy.parquet.nanosAsLong`` and the
  rest of :data:`_INFERENCE_CONFS`).
- **Data-only schema.** Only footer columns are pinned. Partition
  columns (``k=v`` directories) are left out, so Spark still infers
  them, and their types, from the directory names on every read,
  exactly as an unpinned read does.
- **Why a stale entry cannot be served.** Spark names every data file
  it writes with a fresh job UUID, so any commit to a directory,
  through :func:`write_parquet` or not, from this process or another,
  adds or removes names and changes the content key; a single file
  rewritten in place changes its size or mtime. The next read then
  misses and infers. A read keys the path again after Spark has listed
  it; if the content changed in between, the pinned frame is dropped
  and the read infers. :func:`write_parquet` keys the path right after
  its own commit (the stores' single-writer contract: nothing else
  commits in between). A write that keeps other files in place
  (append, dynamic partition overwrite) records its schema only when
  it matches the pin it replaced, because inference reads one footer
  of the mixed directory.
- **Fallbacks.** Non-local paths (a scheme other than ``file:``, or a
  plain path when ``fs.defaultFS`` is not local), glob paths, reads
  with options that change what inference sees (anything but
  ``ignoreMissingFiles``) and paths without a data file are never
  pinned: they infer as before, so an empty partitioned directory
  still fails with Spark's own error.
"""

from __future__ import annotations

import hashlib
import os
import stat
import threading
from collections import OrderedDict
from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: session confs that change the schema footer inference returns
_INFERENCE_CONFS = (
    _NANOS_AS_LONG,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


class FooterSchemaCache:
    """Bounded LRU of pinned data schemas, safe to share between the
    threads of one driver (the package overlaps reads on pools)."""

    MAXSIZE = 512

    def __init__(self) -> None:
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key) -> T.StructType | None:
        with self._lock:
            schema = self._entries.get(key)
            if schema is not None:
                self._entries.move_to_end(key)
            return schema

    def put(self, key, schema: T.StructType) -> None:
        with self._lock:
            self._entries[key] = schema
            self._entries.move_to_end(key)
            while len(self._entries) > self.MAXSIZE:
                self._entries.popitem(last=False)


FOOTER_SCHEMAS = FooterSchemaCache()


def _hidden(name: str) -> bool:
    """Spark's listing filter: such files are never data."""
    return (name.startswith("_") and "=" not in name) or name.startswith(".")


def _content(local: str) -> tuple[tuple, frozenset] | None:
    """(content key, partition column names) of a local file or
    directory tree, or None when it is absent, holds no data file, or
    changes while being walked."""
    h = hashlib.blake2b(digest_size=16)
    try:
        st = os.stat(local)
        if not stat.S_ISDIR(st.st_mode):
            h.update(f"{st.st_size} {st.st_mtime_ns}".encode())
            return (st.st_dev, st.st_ino, h.digest()), frozenset()
        parts: set = set()
        has_data = False
        stack = [("", False)]
        while stack:
            rel, hidden = stack.pop()
            with os.scandir(os.path.join(local, rel)) as it:
                entries = sorted(it, key=lambda e: e.name)
            for e in entries:
                name = f"{rel}/{e.name}" if rel else e.name
                skip = hidden or _hidden(e.name)
                if e.is_dir():
                    h.update(f"d {name}\0".encode())
                    stack.append((name, skip))
                    if not skip and "=" in e.name:
                        parts.add(e.name.split("=", 1)[0])
                else:
                    s = e.stat()
                    h.update(
                        f"f {name} {s.st_size} {s.st_mtime_ns}\0".encode()
                    )
                    has_data = has_data or not skip
    except OSError:
        return None
    if not has_data:
        return None
    return (st.st_dev, st.st_ino, h.digest()), frozenset(parts)


def _local_path(spark: SparkSession, path: str) -> str | None:
    """Absolute driver-local path of ``path``, or None when Spark would
    resolve it elsewhere (remote scheme, non-local default FS) or it
    is a glob."""
    from agrobr_spark.store.fs import require_local_path

    if any(c in path for c in "*?[{"):
        return None
    try:
        local = require_local_path(path)
    except ValueError:
        return None
    if local == path:
        default_fs = spark._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///"
        )
        if not default_fs.startswith("file:"):
            return None
    return os.path.abspath(local)


def _confs(spark: SparkSession) -> tuple:
    return tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)


#: reader options that leave footer inference unchanged
_PINNABLE_OPTIONS = frozenset({"ignoreMissingFiles"})


def _data_schema(schema: T.StructType, partition_cols) -> T.StructType:
    return T.StructType(
        [f for f in schema.fields if f.name not in partition_cols]
    )


def read_parquet(spark: SparkSession, path: str, **options) -> DataFrame:
    """``spark.read.options(**options).parquet(path)``, with the data
    schema pinned when this content was seen before (module docstring):
    a warm read submits no Spark job."""
    local = None
    if _PINNABLE_OPTIONS.issuperset(options):
        local = _local_path(spark, path)
    before = None if local is None else _content(local)
    if before is None:
        return spark.read.options(**options).parquet(path)
    key = (before[0], _confs(spark))
    pinned = FOOTER_SCHEMAS.get(key)
    if pinned is not None:
        df = spark.read.options(**options).schema(pinned).parquet(path)
        if _content(local) == before:
            return df
    df = spark.read.options(**options).parquet(path)
    if _content(local) == before:
        FOOTER_SCHEMAS.put(key, _data_schema(df.schema, before[1]))
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple | list = (),
    mode: str = "overwrite",
    **options,
) -> None:
    """``df.write.mode(mode).options(**options).partitionBy(*partition_by)
    .parquet(path)``, then pin the written data schema under the new
    content key so a read-back of it submits no inference job."""
    spark = df.sparkSession
    writer = df.write.mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    local = _local_path(spark, path)
    dynamic = bool(partition_by) and (
        options.get("partitionOverwriteMode")
        or spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    ).lower() == "dynamic"
    # a write that keeps other files in place only re-pins an unchanged
    # schema: inference on the mixed directory reads one footer
    before = None
    if local is not None and (mode != "overwrite" or dynamic):
        before = _content(local)
    writer.parquet(path)
    if local is None:
        return
    after = _content(local)
    if after is None:
        return
    confs = _confs(spark)
    data = _data_schema(df.schema, partition_by)
    if before is not None:
        prev = FOOTER_SCHEMAS.get((before[0], confs))
        if prev is None or prev.simpleString() != data.simpleString():
            return
    FOOTER_SCHEMAS.put((after[0], confs), data)


def checkpoint_parquet(df: DataFrame, path: str) -> DataFrame:
    """Overwrite ``path`` with ``df`` and return the frame reading it
    back: a parquet checkpoint that severs ``df``'s lineage, with the
    read-back pinned by the write (no inference job)."""
    write_parquet(df, path)
    return read_parquet(df.sparkSession, path)


def observed(obs: Observation) -> dict | None:
    """The metric row of ``obs``, or None when its node never fired.
    A provably-empty input (e.g. an empty LocalRelation) lets the
    optimizer collapse the plan THROUGH the CollectMetrics node, so
    the job completes but ``obs.get`` raises from the JVM conversion;
    callers then take the metrics from the data itself, never a
    guessed zero."""
    try:
        return dict(obs.get)
    except Exception:
        return None


def pin(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df`` plus the named aggregate
    ``metrics`` over its rows, read off an ``Observation`` on the
    checkpoint's own job — no aggregate job over the pin. When the
    observation did not fire, the same aggregates run over the pinned
    rows instead: one job, on that path only."""
    cols = [c.alias(name) for name, c in metrics.items()]
    obs = Observation()
    pinned = df.observe(obs, *cols).localCheckpoint(eager=True)
    got = observed(obs)
    if got is None:
        got = pinned.agg(*cols).first().asDict()
    return pinned, got


@contextmanager
def nanos_as_long(spark: SparkSession):
    """Read parquet TIMESTAMP(NANOS) as raw longs inside the block.
    Scoped (the flag is only consulted at analysis time of the scan) so
    a session-wide side effect doesn't leak into unrelated reads."""
    prev = spark.conf.get(_NANOS_AS_LONG, None)
    spark.conf.set(_NANOS_AS_LONG, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_NANOS_AS_LONG)
        else:
            spark.conf.set(_NANOS_AS_LONG, prev)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Column pruning / predicate pushdown are
    left to Catalyst — callers express filters declaratively.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) (older
    fixtures) and TIMESTAMP(MICROS) without timezone (current). Spark 4
    rejects nanos ([PARQUET_TYPE_ILLEGAL]) unless read as raw longs, and
    reads tz-less micros as TIMESTAMP_NTZ. Both are normalized here to a
    plain TIMESTAMP carrying the file's wall clock as a UTC instant, so
    every downstream epoch extraction (``unix_micros``) matches DuckDB's
    ``epoch_ns(ts) // 1000`` on the same file regardless of the session
    timezone.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        with nanos_as_long(spark):
            df = read_parquet(spark, path)
        return _normalize_events_ts(df)
    return read_parquet(spark, path)


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` (raw nanos bigint or TIMESTAMP_NTZ micros) to a
    TIMESTAMP whose epoch-µs equal the file's wall clock taken as UTC —
    session-timezone-independent (``timestampdiff`` on NTZ is pure
    wall-clock arithmetic, no tz conversion)."""
    kind = dict(df.dtypes).get("ts")
    if kind == "bigint":
        # floor-divide nanos → micros: Spark's native timestamp
        # resolution. DuckDB oracles must do epoch_ns(ts) // 1000
        # when they compare or emit raw ts (see w7_sessionize).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif kind == "timestamp_ntz":
        df = df.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
            ),
        )
    return df


def table_cache_key(sf_dir: str, name: str) -> tuple:
    """Cache key for per-fixture-dir scalar caches (corpus counts,
    split params): (dir, table, mtime) so a fixture dir REWRITTEN
    mid-session invalidates the cached scalar instead of serving a
    stale value. mtime is None for non-local paths (object stores) —
    there the run-per-process model is the freshness guarantee."""
    import os

    p = os.path.join(sf_dir, f"{name}.parquet")
    try:
        mtime = os.path.getmtime(p)
    except OSError:
        mtime = None
    return (sf_dir, name, mtime)
