"""S9: parquet/CSV sinks with provenance metadata + verify-on-read.

Reference: agrobr/export.py:20-129 (parquet with embedded metadata:
version, timestamp, row_count, source, content sha256; CSV with a
``.meta.json`` sidecar; verify-on-read recomputes the hash).

Spark-native: the content hash is an order-insensitive sha256 computed
DISTRIBUTED — per-row sha2 over a canonical separator-joined form,
xor-folded via bit_xor aggregate — so verification scales to tables a
driver could never hold (the reference hashes canonical CSV bytes in
memory).
"""

from __future__ import annotations

import datetime as dt
import json

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from agrobr_spark.io import read_parquet
from agrobr_spark.store.fs import read_text, write_text

PROVENANCE_VERSION = "1.0"


def _meta_path(path: str, name: str) -> str:
    # plain string join, not os.path: ``path`` may be s3a://... —
    # metadata must travel through the same Hadoop FS as the data
    return path.rstrip("/") + "/" + name


def _digest_words(cols: list[str]) -> list:
    """The content digest as four aggregate columns ``w0..w3``:
    per-row sha2/256 over unit-separator-joined canonical strings,
    folded with bit_xor per 60-bit word (15 hex digits, so conv()
    output fits a signed bigint)."""
    canon = F.sha2(
        F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]), 256
    )
    return [
        F.bit_xor(
            F.conv(F.substring(canon, 1 + 15 * i, 15), 16, 10).cast("bigint")
        ).alias(f"w{i}")
        for i in range(4)
    ]


def _words_hex(row) -> str:
    """The 60-hex-digit digest string of a row holding ``w0..w3``."""
    return "".join(
        format(int(row[f"w{i}"] or 0) & (2**60 - 1), "015x")
        for i in range(4)
    )


def content_hash(df: DataFrame) -> str:
    """Order-insensitive distributed content hash
    (:func:`_digest_words`, folded to hex)."""
    return _words_hex(df.agg(*_digest_words(df.columns)).collect()[0])


def write_with_provenance(
    df: DataFrame,
    path: str,
    source: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
) -> dict:
    """Write + sidecar ``.meta.json`` (version, timestamp, row_count,
    source, columns, content sha). Returns the metadata dict."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"unsupported sink format {fmt!r}")
    meta = {
        "provenance_version": PROVENANCE_VERSION,
        "written_at": dt.datetime.now(dt.timezone.utc).isoformat(),
        "row_count": df.count(),
        "source": source,
        "format": fmt,
        "columns": df.columns,
        "content_sha256_xor": content_hash(df),
    }
    write_text(df.sparkSession, _meta_path(path, ".meta.json"),
               json.dumps(meta, indent=1))
    return meta


def read_verified(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Read a provenance-stamped table and verify row count + content
    hash; raises ``ValueError`` on mismatch (verify-on-read,
    ref: agrobr/export.py:132-182)."""
    raw = read_text(spark, _meta_path(path, ".meta.json"))
    if raw is None:
        raise FileNotFoundError(_meta_path(path, ".meta.json"))
    meta = json.loads(raw)
    fmt = meta.get("format", "parquet")
    if fmt == "parquet":
        df = read_parquet(spark, path)
    elif fmt == "csv":
        df = spark.read.option("header", "true").csv(path)
    else:
        df = spark.read.json(path)
    df = df.select(*meta["columns"])  # canonical column order
    n = df.count()
    if n != meta["row_count"]:
        raise ValueError(f"row_count mismatch: {n} != {meta['row_count']}")
    h = content_hash(df)
    if h != meta["content_sha256_xor"]:
        raise ValueError("content hash mismatch: data was modified")
    return df, meta


def _shard_stats(df, key_col, n_shards, token_col):
    """(stamped frame, per-shard stats) — the shared accounting agg of
    the one-shot writer and the incremental appender: row count,
    optional token sum, and the 4×60-bit xor-folded content words."""
    shard = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int")
    stamped = df.withColumn("shard", shard)
    aggs = [F.count(F.lit(1)).alias("rows"), *_digest_words(df.columns)]
    if token_col is not None:
        aggs.append(F.sum(token_col).cast("long").alias("tokens"))
    stats = {
        int(r["shard"]): r.asDict()
        for r in stamped.groupBy("shard").agg(*aggs).collect()
    }
    return stamped, stats


def _xor_hex(a: str, b: str) -> str:
    """Word-wise xor of two 4×15-hex content digests — xor-folding is
    associative and commutative, so an appended batch's digest merges
    into the stored one without rereading old data."""
    return "".join(
        format(int(a[15 * i : 15 * (i + 1)], 16)
               ^ int(b[15 * i : 15 * (i + 1)], 16), "015x")
        for i in range(4)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    key_col: str,
    n_shards: int,
    fmt: str = "parquet",
    token_col: str | None = None,
    max_records_per_file: int | None = None,
    compression: str | None = None,
    batch_id: int | None = None,
) -> dict:
    """Export a prepared corpus as deterministic hash shards — the
    layout a trainer's data loader consumes (fixed shard count, stable
    doc→shard assignment across runs, per-shard accounting).

    Sharding is ``pmod(xxhash64(key), n_shards)``: content-addressed,
    so re-exporting the same corpus lands every doc in the same shard
    regardless of input partitioning or cluster size. The write is ONE
    shuffle (repartition on the shard id) and the per-shard manifest
    stats — row count, optional token sum, order-insensitive content
    hash — come from a single distributed aggregation, not a
    per-shard driver loop; at 100 TB with 8k shards both stages are
    ordinary hash exchanges. ``maxRecordsPerFile`` bounds file sizes
    inside each shard directory without another shuffle.

    Extension surface (no reference analog; nearest is the provenance
    sink above, ref: agrobr/export.py:20-129). Returns the manifest
    dict, also written as ``_manifest.json`` beside the shards.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    stamped, stats = _shard_stats(df, key_col, n_shards, token_col)

    writer = stamped.repartition(n_shards, "shard").write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    if compression is not None:
        # parquet: zstd/snappy/gzip codecs; json: gzip etc. — the
        # ``fmt="json"`` + gzip pairing is the JSONL.gz interchange
        # layout tokenizer/training toolchains consume directly
        writer = writer.option("compression", compression)
    writer = writer.partitionBy("shard")
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"unsupported shard format {fmt!r}")

    manifest = {
        "provenance_version": PROVENANCE_VERSION,
        "written_at": dt.datetime.now(dt.timezone.utc).isoformat(),
        "format": fmt,
        "key_col": key_col,
        "n_shards": n_shards,
        "token_col": token_col,
        "applied_batch_ids": [] if batch_id is None else [int(batch_id)],
        "columns": df.columns,
        "row_count": sum(s["rows"] for s in stats.values()),
        "shards": {
            str(k): {
                "rows": s["rows"],
                **({"tokens": s["tokens"]} if token_col is not None else {}),
                "content_sha256_xor": _words_hex(s),
            }
            for k, s in sorted(stats.items())
        },
    }
    write_text(df.sparkSession, _meta_path(path, "_manifest.json"),
               json.dumps(manifest, indent=1))
    return manifest


def append_training_shards(
    df: DataFrame,
    path: str,
    *,
    batch_id: int | None = None,
) -> dict:
    """Append a batch to an EXISTING shard export and merge its
    accounting into the manifest — the incremental form of
    ``write_training_shards`` (streaming micro-batches, daily admitted
    batches). Shard assignment is content-addressed, so an appended
    doc lands in the same shard a one-shot export would give it; row
    counts and token sums ADD, and the xor-folded content digests
    MERGE word-wise (xor is associative + commutative), so after any
    sequence of appends the manifest equals the one-shot manifest of
    the union — verified by ``read_training_shards``'s hash check and
    by tests.

    Accounting-exactness requires batch keys disjoint from what's
    already exported (dedup belongs upstream, in admission — an
    at-least-once feed should be gated by ``stream_dedup_exact`` or
    the admission MERGE before export). The batch must carry exactly
    the manifest's columns.

    Replay guard: pass ``batch_id`` (the ``foreachBatch`` epoch id)
    and an id already recorded in the manifest's
    ``applied_batch_ids`` becomes a NO-OP — a replayed micro-batch
    neither rewrites data nor double-counts accounting. The one
    window this cannot cover is a crash AFTER the data append but
    BEFORE the manifest write; a replay then re-appends the data and
    the manifest counts it once — ``read_training_shards``'s
    verify-on-read catches exactly that (row-count + digest
    mismatch) instead of silently serving duplicated rows."""
    raw = read_text(df.sparkSession, _meta_path(path, "_manifest.json"))
    if raw is None:
        raise FileNotFoundError(
            f"{path}: no _manifest.json — append requires an existing "
            "export (write_training_shards first)"
        )
    manifest = json.loads(raw)
    applied = [int(b) for b in manifest.get("applied_batch_ids", [])]
    if batch_id is not None and int(batch_id) in applied:
        return manifest
    if list(df.columns) != list(manifest["columns"]):
        raise ValueError(
            f"append columns {df.columns} != manifest {manifest['columns']}"
        )
    fmt = manifest.get("format", "parquet")
    n_shards = int(manifest["n_shards"])
    # the writer records its token_col at the manifest top level, so the
    # appender tracks the SAME column the export was created with — even
    # when the manifest has zero shard entries yet (an empty first
    # batch). Pre-token_col manifests (legacy) fall back to inferring
    # from the shard entries, which can only guess 'n_tokens'.
    if "token_col" in manifest:
        token_col = manifest["token_col"]
    elif any("tokens" in s for s in manifest["shards"].values()):
        token_col = "n_tokens"
    else:
        token_col = None
    if token_col is not None and token_col not in df.columns:
        raise ValueError(
            f"manifest tracks tokens via {token_col!r} but the batch "
            f"has no such column (batch columns: {df.columns})"
        )
    stamped, stats = _shard_stats(df, manifest["key_col"], n_shards, token_col)

    writer = stamped.repartition(n_shards, "shard").write.mode("append")
    writer = writer.partitionBy("shard")
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"unsupported shard format {fmt!r}")

    for k, batch in stats.items():
        key = str(k)
        prev = manifest["shards"].get(key)
        if prev is None:
            entry = {
                "rows": batch["rows"],
                **({"tokens": batch["tokens"]} if token_col else {}),
                "content_sha256_xor": _words_hex(batch),
            }
        else:
            entry = {
                "rows": prev["rows"] + batch["rows"],
                **(
                    {"tokens": prev.get("tokens", 0) + batch["tokens"]}
                    if token_col
                    else {}
                ),
                "content_sha256_xor": _xor_hex(
                    prev["content_sha256_xor"], _words_hex(batch)
                ),
            }
        manifest["shards"][key] = entry
    manifest["shards"] = {
        k: manifest["shards"][k]
        for k in sorted(manifest["shards"], key=int)
    }
    manifest["row_count"] = sum(s["rows"] for s in manifest["shards"].values())
    if batch_id is not None:
        manifest["applied_batch_ids"] = applied + [int(batch_id)]
    manifest["written_at"] = dt.datetime.now(dt.timezone.utc).isoformat()
    write_text(df.sparkSession, _meta_path(path, "_manifest.json"),
               json.dumps(manifest, indent=1))
    return manifest


def read_training_shards(
    spark: SparkSession, path: str, shards: list[int] | None = None
) -> tuple[DataFrame, dict]:
    """Read back an exported shard set (optionally a subset of shard
    ids — partition-pruned, only those directories are scanned) and
    verify each shard's row count and content hash against the
    manifest; raises ``ValueError`` on any mismatch."""
    raw = read_text(spark, _meta_path(path, "_manifest.json"))
    if raw is None:
        raise FileNotFoundError(_meta_path(path, "_manifest.json"))
    manifest = json.loads(raw)
    fmt = manifest.get("format", "parquet")
    df = read_parquet(spark, path) if fmt == "parquet" else spark.read.json(path)
    if shards is not None:
        df = df.filter(F.col("shard").isin([int(s) for s in shards]))
    cols = manifest["columns"]
    want = {
        int(k): v
        for k, v in manifest["shards"].items()
        if shards is None or int(k) in set(shards)
    }
    got = {
        int(r["shard"]): r.asDict()
        for r in df.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("rows"), *_digest_words(cols))
        .collect()
    }
    if set(got) != set(want):
        raise ValueError(f"shard set mismatch: {sorted(got)} != {sorted(want)}")
    for k, w in want.items():
        g = got[k]
        if g["rows"] != w["rows"]:
            raise ValueError(f"shard {k}: row count {g['rows']} != {w['rows']}")
        if _words_hex(g) != w["content_sha256_xor"]:
            raise ValueError(f"shard {k}: content hash mismatch")
    return df.select(*cols, "shard"), manifest
