"""Append-only history + business-day gap detection (M4/M5/W5).

Reference: agrobr/cache/duckdb_store.py:281-337 (history_entries,
UNIQUE(key, data_date, collected_at), constraint violation = silently
exists) and agrobr/cache/history.py:108-123 (find_gaps: business-day
calendar minus available dates).

Spark-native: insert-only MERGE (left_anti on the unique key, then
append — no rewrite of existing files, matching "append-only"), and
the gap query is a generated weekday calendar anti-joined against the
stored dates.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from agrobr_spark.io import read_parquet, write_parquet

HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("data_date", T.DateType(), False),
        T.StructField("collected_at", T.TimestampType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

UNIQUE_KEY = ("key", "data_date", "collected_at")


class HistoryStore:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self._exists = False

    def read(self) -> DataFrame:
        from agrobr_spark.store.fs import path_exists

        if not (self._exists or path_exists(self.spark, self.path)):
            return self.spark.createDataFrame([], HISTORY_SCHEMA)
        return read_parquet(self.spark, self.path)

    def append(self, batch: DataFrame) -> int:
        """Insert-only MERGE: rows whose unique key already exists are
        silently dropped (the reference's constraint-violation-is-ok
        semantics); new rows are APPENDED — existing files untouched."""
        batch = batch.select(*HISTORY_SCHEMA.fieldNames()).dropDuplicates(
            list(UNIQUE_KEY)
        )
        existing = self.read().select(*UNIQUE_KEY)
        fresh = batch.join(existing, on=list(UNIQUE_KEY), how="left_anti")
        n = fresh.count()
        if n:
            write_parquet(fresh, self.path, mode="append")
            self._exists = True
        return n


def business_day_calendar(
    spark: SparkSession, start: dt.date, end: dt.date
) -> DataFrame:
    """Mon-Fri calendar as a DataFrame (generated, no driver loop —
    sequence() expands on the executor)."""
    return (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(F.lit(start), F.lit(end), F.expr("INTERVAL 1 DAY"))
            ).alias("data")
        )
        # dayofweek: 1=Sunday ... 7=Saturday
        .filter(~F.dayofweek("data").isin(1, 7))
    )


def business_day_gaps(
    available: DataFrame, start: dt.date, end: dt.date, date_col: str = "data"
) -> DataFrame:
    """W5/M5: business days in [start, end] with no row in
    ``available`` — the incremental-fetch driver
    (ref: agrobr/cepea/api.py:119-133, cache/history.py:108-123)."""
    cal = business_day_calendar(available.sparkSession, start, end)
    return cal.join(
        available.select(F.col(date_col).alias("data")).distinct(),
        on="data",
        how="left_anti",
    ).orderBy("data")
