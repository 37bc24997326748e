"""M2: TTL key-value cache.

Reference: agrobr/cache/duckdb_store.py:129-279 — blob payloads with
expires_at, stale flag, hit_count, strict version check; keys from
agrobr/cache/keys.py:9-43 (dataset + params hash).

Spark-native: a parquet-backed KV table. Payloads are small blobs (one
per fetch request), so get/set are driver-latency operations over a
compact table; TTL is a plain predicate. The analytical data itself
never lives here — that's the typed ``indicadores`` store.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import SparkSession

from agrobr_spark.store.policies import POLICIES, next_expiry
from agrobr_spark.store.table import ParquetStore

CACHE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("version", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("expires_at", T.TimestampType(), False),
        T.StructField("stale_until", T.TimestampType(), True),
    ]
)


def cache_key(dataset: str, params: dict) -> str:
    """Deterministic cache key: dataset + sha of canonical params
    (ref: agrobr/cache/keys.py:9-20)."""
    canon = json.dumps(params, sort_keys=True, default=str)
    return f"{dataset}:{hashlib.sha256(canon.encode()).hexdigest()[:16]}"


class KVCache:
    def __init__(self, spark: SparkSession, path: str, version: str = "1"):
        self.spark = spark
        self.path = path
        self.version = version
        # replacing the table is ParquetStore.rewrite: one write to a
        # staged sibling, then a directory swap that the next open
        # rolls forward if the writer dies mid-swap
        self._store = ParquetStore(spark, path, ("key",))

    def _read(self):
        if not self._store.exists():
            return self.spark.createDataFrame([], CACHE_SCHEMA)
        return self._store.read()

    def set(
        self,
        key: str,
        payload: bytes,
        source: str = "default",
        now: dt.datetime | None = None,
    ) -> None:
        now = now or dt.datetime.now(dt.timezone.utc)
        pol = POLICIES.get(source, POLICIES["default"])
        row = [
            (
                key,
                bytearray(payload),
                self.version,
                now,
                next_expiry(source, now),
                now + pol.stale_max,
            )
        ]
        # last-writer-wins on key: drop the old row, append the new one
        rest = self._read().filter(F.col("key") != key)
        self._store.rewrite(
            rest.unionByName(self.spark.createDataFrame(row, CACHE_SCHEMA))
        )

    def get(
        self,
        key: str,
        now: dt.datetime | None = None,
        allow_stale: bool = False,
    ) -> bytes | None:
        """Fresh hit: not expired + version match. ``allow_stale``
        extends to the stale_until window (the reference's stale-cache
        fallback on fetch failure)."""
        now = now or dt.datetime.now(dt.timezone.utc)
        cutoff = F.col("stale_until") if allow_stale else F.col("expires_at")
        rows = (
            self._read()
            .filter(
                (F.col("key") == key)
                & (F.col("version") == self.version)
                & (cutoff > F.lit(now))
            )
            .collect()
        )
        return bytes(rows[0]["payload"]) if rows else None

    def invalidate(self, key: str) -> None:
        self._store.rewrite(self._read().filter(F.col("key") != key))
