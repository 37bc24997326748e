"""Streaming operators as catalog queries (SURVEY §2.12).

The streaming query runs to completion over all available input
(Trigger.AvailableNow → memory sink) and the finished result is
compared against the equivalent batch SQL — proving the watermarked
windowed aggregation computes exactly the batch semantics when all
data has arrived.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from agrobr_spark.io import read_parquet, write_parquet
from agrobr_spark.normalize.expressions import has_tokens, n_tokens, tokens_sql
from agrobr_spark.queries import register
from agrobr_spark.session import run_concurrently
from agrobr_spark.store.fs import scratch_dir
from agrobr_spark.store.posting import term_rows
from agrobr_spark.streaming.windows import (
    drain_or_raise,
    read_events_stream,
    run_available_now,
    tumbling_daily_agg,
)

_COUNTER = [0]

#: files (= micro-batches) every ingest stream is staged into. The
#: ``stream_source_divergence`` oracle hard-codes this 3-way split (its
#: ``span`` and ``least(2, ...)`` lot key in pure SQL).
_INGEST_FILES = 3


def _fold_stream(
    spark: SparkSession,
    staged: DataFrame,
    handle,
    name: str,
    *,
    id_col: str,
    cut: int = 0,
    build=None,
    replay: bool = False,
    timeout_s: int = 180,
) -> None:
    """The family's ingest-stream harness: stage ``staged`` (rows with
    ``id_col`` >= ``cut``) as ``_INGEST_FILES`` id-ranged SINGLE-FILE
    parquet chunks in a temp ingest dir, feed them one file per
    micro-batch through a file-source stream into
    ``foreachBatch(handle)`` under Trigger.AvailableNow, and drain with
    ``drain_or_raise(name, timeout_s)``. The ingest dir is removed on
    every exit path. Staging invariants every streamed catalog entry
    relies on (kept in ONE place, r10 review finding):

    - chunk i covers ids [cut + i·span, cut + (i+1)·span), with the
      TAIL chunk open-ended (< 1<<62) so integer division never drops
      the max id;
    - one data file per chunk (coalesce(1) + move out of the staging
      dir), so maxFilesPerTrigger=1 means one id-range per epoch;
    - mtimes stamped from a fixed epoch base so the file source's
      modification-time ordering equals id ordering — oldest-first
      delivery is what makes smaller-id-wins admission predicates
      replay- and split-stable.

    ``build`` (a store-build thunk) runs CONCURRENTLY with the staging
    writes (guide §2.6 overlap independent jobs): they touch disjoint
    directories, and the staging frame depends only on the source
    table — the stream can't start before both finish anyway, so the
    staging's small single-file writes back-fill the build's stage
    tails instead of serializing after them.

    ``replay=True`` feeds chunk 0 through ``handle`` again as batch 0
    after the drain — the in-line proof that the fold is idempotent.
    Chunk 0 is localCheckpointed at staging, so it outlives the ingest
    dir."""
    import os
    import shutil
    import tempfile

    ingest = tempfile.mkdtemp(prefix=f"{name}_in_")

    def stage() -> DataFrame | None:
        n = _INGEST_FILES
        max_id = staged.agg(F.max(id_col)).collect()[0][0] or cut
        span = max(1, (int(max_id) - int(cut) + n) // n)
        t0 = 1_000_000_000
        first = None
        for i in range(n):
            lo, hi = cut + i * span, cut + (i + 1) * span
            chunk = staged.filter(
                (F.col(id_col) >= lo)
                & (F.col(id_col) < (hi if i < n - 1 else 1 << 62))
            )
            tmp = f"{ingest}/.stage{i}"
            chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = f"{ingest}/chunk{i:05d}.parquet"
            shutil.move(f"{tmp}/{part}", dst)
            shutil.rmtree(tmp)
            os.utime(dst, (t0 + 60 * i, t0 + 60 * i))
            if i == 0 and replay:
                first = read_parquet(spark, dst).localCheckpoint(eager=True)
        return first

    try:
        if build is None:
            first = stage()
        else:
            first = run_concurrently(spark, build, stage)[1]
        q = (
            spark.readStream.schema(staged.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(ingest)
            .writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .start()
        )
        drain_or_raise(q, name, timeout_s)
        if replay:
            handle(first, 0)
    finally:
        shutil.rmtree(ingest, ignore_errors=True)


def _versioned_state(
    spark: SparkSession, state_dir: str, stem: str, schema: str, step
):
    """Folded foreachBatch state as versioned parquet dirs under
    ``state_dir`` (``{stem}_init``, then ``{stem}_s{batch_id}``) plus
    ONE manifest carrying the ``current`` state-dir pointer. Each
    epoch is a ``store/fs.commit_epoch`` epoch: the new state is
    written beside the current one, and publishing the pointer and
    marking the epoch applied are one locked manifest commit.

    Returns ``(handle, current)``: the foreachBatch handler, which
    skips an applied ``batch_id`` and otherwise commits
    ``step(batch, prev_state)`` as the next version, and a reader of
    the current state."""
    from agrobr_spark.store.fs import commit_epoch, commit_json, read_json

    manifest = f"{state_dir}/manifest.json"
    init = f"{stem}_init"
    write_parquet(spark.createDataFrame([], schema), f"{state_dir}/{init}")
    commit_json(manifest, {"applied_batch_ids": [], "current": init})

    def handle(batch: DataFrame, batch_id: int) -> None:
        def stage(man: dict) -> str:
            prev = read_parquet(spark, f"{state_dir}/{man['current']}")
            nxt = f"{stem}_s{int(batch_id)}"
            write_parquet(step(batch, prev), f"{state_dir}/{nxt}")
            return nxt

        commit_epoch(manifest, batch_id, stage,
                     lambda cur, nxt: dict(cur, current=nxt))

    def current() -> DataFrame:
        cur = read_json(manifest)["current"]
        return read_parquet(spark, f"{state_dir}/{cur}")

    return handle, current


@register(
    "stream_tumbling_daily",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS data,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS soma_valor,
           min(value) AS valor_min,
           max(value) AS valor_max
    FROM events
    GROUP BY 1, 2
    """,
    tags=("STREAM", "A4"),
)
def stream_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling 1-day window aggregation, run as a real
    Structured Streaming query (file micro-batches → memory sink)."""
    _COUNTER[0] += 1
    name = f"stream_tumbling_daily_{_COUNTER[0]}"
    events = read_events_stream(spark, sf_dir)
    return run_available_now(tumbling_daily_agg(events), name)


@register(
    "stream_stateful_dod",
    oracle="""
    -- epoch-µs basis on both sides: events.ts is TIMESTAMP(NANOS) in
    -- DuckDB but µs in Spark; ordering and the emitted ts must agree
    -- exactly (see w7_sessionize)
    WITH base AS (
      SELECT event_id, epoch_ns(ts) // 1000 AS ts_us, event_type, value
      FROM events),
    e AS (
      SELECT event_id, ts_us, event_type, value,
             lag(value) OVER (PARTITION BY event_type
                              ORDER BY ts_us, event_id) AS valor_anterior
      FROM base WHERE value IS NOT NULL)
    SELECT event_type, event_id, CAST(ts_us AS BIGINT) AS ts_us, value,
           valor_anterior,
           (value / valor_anterior - 1.0) * 100.0 AS variacao_pct
    FROM e
    WHERE valor_anterior IS NOT NULL AND valor_anterior <> 0
      AND abs((value / valor_anterior - 1.0) * 100.0) > 20.0
    """,
    tags=("STREAM", "W2", "STATEFUL"),
)
def stream_stateful_dod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming day-over-day anomaly flags
    (applyInPandasWithState; ref behavior: agrobr/validators/
    sanity.py:161-180). The previous value per event_type is keyed
    state surviving micro-batches; on fully-arrived data the result
    equals the batch lag window the oracle runs."""
    from agrobr_spark.streaming.stateful import day_over_day_flags

    _COUNTER[0] += 1
    events = read_events_stream(spark, sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )
    out = run_available_now(
        day_over_day_flags(events),
        f"stream_stateful_dod_{_COUNTER[0]}",
        mode="append",
    )
    # surface ts as epoch-µs (engine-stable; raw ns-vs-µs timestamps
    # can never hash-match the DuckDB oracle)
    return out.select(
        "event_type", "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value", "valor_anterior", "variacao_pct",
    )


_US_12H = 12 * 3600 * 1_000_000
_US_24H = 2 * _US_12H


@register(
    "stream_sliding_daily",
    oracle=f"""
    -- each event lands in exactly size/slide = 2 overlapping windows;
    -- window starts are epoch-aligned like Spark's window(ts, w, s)
    WITH base AS (
      SELECT event_type, value, epoch_ns(ts) // 1000 AS us FROM events),
    k AS (SELECT unnest(range(0, 2)) AS k),
    janelas AS (
      SELECT b.event_type, b.value,
        (b.us // {_US_12H} - k.k) * {_US_12H} AS inicio_us
      FROM base b CROSS JOIN k
      WHERE (b.us // {_US_12H} - k.k) * {_US_12H} + {_US_24H} > b.us)
    SELECT inicio_us, event_type,
      count(*) AS n,
      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS soma_valor
    FROM janelas
    GROUP BY 1, 2
    """,
    tags=("STREAM", "SLIDING"),
)
def stream_sliding_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-day windows every 12 hours (2× overlap) per
    event_type — real Structured Streaming with watermark, run to
    completion (SURVEY §2.12: overlapping-window coverage beyond the
    tumbling case). Window starts emitted as epoch-µs ints so the
    cross-engine hash is timezone-proof."""
    _COUNTER[0] += 1
    name = f"stream_sliding_daily_{_COUNTER[0]}"
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 day")
        .groupBy(
            F.window("ts", "1 day", "12 hours").alias("janela"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("soma_valor"),
        )
        .select(
            F.unix_micros("janela.start").alias("inicio_us"),
            "event_type",
            "n",
            F.col("soma_valor").cast("double").alias("soma_valor"),
        )
    )
    return run_available_now(agg, name)


@register(
    "stream_session_windows",
    oracle="""
    -- same island construction as w7 but with Spark session_window
    -- semantics: a NEW session starts when the gap is >= 30 min
    -- (session_window merges only strictly-overlapping [t, t+gap))
    WITH base AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
    marcado AS (
      SELECT user_id, us, event_id,
             CASE WHEN lag(us) OVER (PARTITION BY user_id
                                     ORDER BY us, event_id) IS NULL
                  OR us - lag(us) OVER (PARTITION BY user_id
                                        ORDER BY us, event_id)
                       >= 1800000000
                  THEN 1 ELSE 0 END AS nova_sessao
      FROM base),
    sessoes AS (
      SELECT user_id, us,
             sum(nova_sessao) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sessao_n
      FROM marcado)
    SELECT user_id,
           count(*) AS eventos,
           CAST(min(us) AS BIGINT) AS inicio_us,
           CAST(max(us) AS BIGINT) AS fim_us
    FROM sessoes
    GROUP BY user_id, sessao_n
    """,
    tags=("STREAM", "SESSION"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming sessionization: session_window(ts, 30 min)
    per user as a real watermarked Structured Streaming query — the
    streaming twin of the batch w7 lag-gap sessionize (SURVEY §2.12).
    State is bounded by the watermark; at scale the session store
    shards on user_id like any keyed state."""
    _COUNTER[0] += 1
    name = f"stream_session_windows_{_COUNTER[0]}"
    events = read_events_stream(spark, sf_dir).withColumn(
        "us", F.unix_micros("ts")
    )
    agg = (
        events.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", "30 minutes").alias("janela"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("eventos"),
            F.min("us").alias("inicio_us"),
            F.max("us").alias("fim_us"),
        )
        .select("user_id", "eventos", "inicio_us", "fim_us")
    )
    return run_available_now(agg, name)


@register(
    "stream_upsert_merge",
    oracle="""
    SELECT event_type AS produto,
           CAST(ts AS DATE) AS data,
           CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS valor,
           CAST(max(epoch_ns(ts) // 1000) AS BIGINT) AS coletado_us
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("STREAM", "M1", "FOREACHBATCH"),
)
def stream_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's incremental-accumulate loop as a REAL streaming
    sink: events stream → foreachBatch → PK MERGE into a partitioned
    parquet store (ref: cepea/api.py:119-187 + duckdb_store.py:92-102
    poll-window dedup-upsert; SURVEY §2.12 row 1). Every micro-batch
    dedup-upserts one row per (produto, praca, data, fonte) — replays
    converge (idempotent sink = effectively-exactly-once under
    at-least-once delivery). The final store state is compared against
    batch SQL over the same events, proving the streaming MERGE
    computes the batch semantics once all data has arrived.

    Deterministic on purpose: the per-key value is max(value) (not
    last-by-timestamp, whose ties an engine may break arbitrarily).
    """
    from agrobr_spark.store.indicadores import SCHEMA, IndicadoresStore
    from agrobr_spark.streaming.windows import read_events_stream

    with scratch_dir(spark, "stream_merge_") as store_dir:
        # the store's swap lock is a sibling of its path: inside the
        # scratch dir, it is deleted with it
        store = IndicadoresStore(spark, f"{store_dir}/indicadores")
        events = read_events_stream(spark, sf_dir)

        def merge_batch(batch: DataFrame, batch_id: int) -> None:
            rows = (
                batch.filter(F.col("value").isNotNull())
                .groupBy(
                    F.col("event_type").alias("produto"),
                    F.col("ts").cast("date").alias("data"),
                )
                .agg(
                    F.max(F.col("value").cast("decimal(18,4)"))
                    .alias("valor"),
                    F.max("ts").alias("collected_at"),
                )
            )
            if store.table.exists():
                # MERGE-combine, not last-writer-wins: a key seen in an
                # earlier micro-batch folds its running max into this
                # batch's row, so any batch split converges to the same
                # final state (the upsert would otherwise keep only the
                # newest batch's per-batch max)
                prev = store.table.read().select(
                    "produto",
                    "data",
                    F.col("valor").alias("_pv"),
                    F.col("collected_at").alias("_pc"),
                )
                rows = (
                    rows.join(prev, ["produto", "data"], "left")
                    .select(
                        "produto",
                        "data",
                        F.greatest("valor", "_pv").alias("valor"),
                        F.greatest("collected_at", "_pc")
                        .alias("collected_at"),
                    )
                )
            rows = rows.select(
                "produto",
                F.lit(None).cast("string").alias("praca"),
                "data",
                F.lit("events").alias("fonte"),
                "valor",
                F.lit(None).cast("double").alias("variacao"),
                F.lit(None).cast("string").alias("unidade"),
                "collected_at",
            ).select(*SCHEMA.fieldNames())
            store.upsert(rows)

        q = (
            events.writeStream.foreachBatch(merge_batch)
            .trigger(availableNow=True)
            .start()
        )
        drain_or_raise(q, "stream_upsert_merge", 180)
        out = store.table.read().select(
            "produto",
            "data",
            F.col("valor").cast("double").alias("valor"),
            F.unix_micros("collected_at").alias("coletado_us"),
        )
        # materialize off the scratch store before it is deleted —
        # repeated bench/correctness runs must not accrete orphaned
        # table copies (r5 ADVICE)
        return out.localCheckpoint(eager=True)


def _stream_admission(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build,
    staged,
    handle,
    table: str,
    key: str,
    read,
) -> DataFrame:
    """The streamed admission driver: ``build(spark, sf_dir,
    store_dir)`` the index from the corpus split, fold the batch split
    ``staged(cut)`` (rows keyed ``key``) into it one id-ranged
    micro-batch at a time through ``handle(batch, store_dir)``, compact
    the ``table`` the micro-batch MERGEs accreted (the Delta OPTIMIZE
    analog — small files are the dominant scan cost of an always-on
    incremental sink at 100 TB), and return ``read`` of the compacted
    table, pinned before the scratch index vanishes."""
    from agrobr_spark.queries.admission import _split_params
    from agrobr_spark.store.table import ParquetStore, compact

    with scratch_dir(spark, f"{name}_idx_") as store_dir:
        build(spark, sf_dir, store_dir)
        cut = _split_params(spark, sf_dir)[0]
        _fold_stream(
            spark, staged(cut), lambda batch, _: handle(batch, store_dir),
            name, id_col=key, cut=cut,
        )
        store = ParquetStore(spark, f"{store_dir}/{table}", (key,))
        compact(store)
        return read(store.read()).localCheckpoint(eager=True)


def _docs_with_vectors(spark: SparkSession, sf_dir: str):
    """``staged`` for the survivor variants: batch documents left-joined
    to their vectors (a doc without one still gets its decision)."""
    from agrobr_spark.io import load

    def staged(cut: int) -> DataFrame:
        docs_b = load(spark, sf_dir, "documents").filter(F.col("doc_id") >= cut)
        emb_b = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") >= cut)
        return docs_b.join(
            emb_b.select(F.col("vec_id").alias("doc_id"), "embedding"),
            "doc_id",
            "left",
        )

    return staged


def _split_vectors(spark: SparkSession, admit):
    """``handle`` for the survivor variants: split a staged micro-batch
    back into (documents, embeddings) for ``admit``."""

    def handle(batch: DataFrame, store_dir: str) -> None:
        admit(
            spark,
            batch.drop("embedding"),
            batch.filter(F.col("embedding").isNotNull()).select(
                F.col("doc_id").alias("vec_id"), "embedding"
            ),
            store_dir,
        )

    return handle


def _stream_admit_oracle() -> str:
    from agrobr_spark.queries.admission import _STREAM_ADMIT_ORACLE

    return _STREAM_ADMIT_ORACLE


@register(
    "stream_admit_batch",
    oracle=_stream_admit_oracle(),
    tags=("STREAM", "ADMISSION", "FOREACHBATCH", "INCREMENTAL"),
)
def stream_admit_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The centroid admission pipeline as a STREAM (r5 VERDICT next
    #6): batch documents land as id-ranged ingest files, a file-source
    stream feeds them one file per micro-batch into foreachBatch, and
    every micro-batch runs queries/admission.admit_frame — the code
    path the batch entry uses — against the persisted index.

    Cross-micro-batch duplicates resolve through the index: doc Y
    arriving after its near-dup X finds X already a survivor and is
    rejected duplicado_corpus. Because the ingest files are id-RANGED
    and processed oldest-first (mtimes pinned), the min-id member of
    every duplicate cluster arrives first, so the final survivor set
    equals the one-shot batch admission — which is what the oracle
    checks (corpus survivors ∪ admitted batch docs, from pure SQL over
    corpus ∪ batch). Replays follow the admission module's replay
    contract (tests/test_admission.py::test_admit_replay_is_idempotent).
    """
    from agrobr_spark.queries.admission import admit_frame, build_admission_index

    return _stream_admission(
        spark, sf_dir, "stream_admit_batch", build_admission_index,
        _docs_with_vectors(spark, sf_dir), _split_vectors(spark, admit_frame),
        "survivors", "doc_id",
        lambda surv: surv.select("doc_id", "n_chars", F.col("_blk").alias("bloco")),
    )


def _stream_admit_lsh_oracle() -> str:
    from agrobr_spark.queries.admission import (
        _LSH_SURVIVOR_SELECT,
        _lsh_oracle,
    )

    return _lsh_oracle(_LSH_SURVIVOR_SELECT)


@register(
    "stream_admit_lsh",
    oracle=_stream_admit_lsh_oracle(),
    tags=("STREAM", "ADMISSION", "FOREACHBATCH", "LSH", "INCREMENTAL"),
)
def stream_admit_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fit-free LSH admission pipeline as a STREAM — the streaming
    twin of ``pipeline_admit_lsh``: every micro-batch runs
    ``admit_lsh_frame`` against the persisted index, hashing at the
    width FROZEN in ``lsh_meta.json`` (batch and index can never hash
    at different widths).

    Because blocking is data-independent (no fitted state) admission
    is split-independent, and with id-ranged oldest-first files the
    min-id member of every duplicate cluster arrives first — so the
    final survivor store equals the one-shot admission, which is what
    the oracle pins: corpus survivors ∪ admitted batch docs from pure
    SQL over corpus ∪ batch (recursive-CTE components fixpoints, the
    same hyperplane constants)."""
    from agrobr_spark.queries.admission import (
        admit_lsh_frame,
        build_lsh_admission_index,
    )

    return _stream_admission(
        spark, sf_dir, "stream_admit_lsh", build_lsh_admission_index,
        _docs_with_vectors(spark, sf_dir), _split_vectors(spark, admit_lsh_frame),
        "survivors", "doc_id", lambda surv: surv.select("doc_id", "n_chars"),
    )


def _stream_admit_semdedup_oracle() -> str:
    from agrobr_spark.queries.admission import _SEMDEDUP_ADMIT_ORACLE

    return _SEMDEDUP_ADMIT_ORACLE


@register(
    "stream_admit_semdedup",
    oracle=_stream_admit_semdedup_oracle(),
    tags=("STREAM", "ADMISSION", "FOREACHBATCH", "SEMDEDUP", "INCREMENTAL"),
)
def stream_admit_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup as a STREAM (r8 VERDICT next #3) — the frozen-centroid
    incremental twin of ``dedup_semdedup``. The corpus split is pruned
    once with the paper rule (lowest centroid-similarity keeper) and
    its keepers persisted; every micro-batch of batch embeddings runs
    ``admit_semdedup_frame`` against the persisted state only:
    broadcast frozen-centroid assignment, corpus-keeper veto,
    smaller-id seen-arrival veto, MERGE-back of every judged arrival.

    Stream ≡ one-shot holds by construction, not by scheduling luck:
    both vetoes are pure pair predicates over (corpus keepers) and
    (smaller-id arrivals), and with id-ranged oldest-first files every
    smaller-id arrival is in the seen table (or the current frame)
    when a vector is judged — so the oracle recomputes the identical
    decision in one non-recursive SQL query. Per micro-batch the cost
    is O(|batch| · cluster density): the corpus is never re-read."""
    from agrobr_spark.io import load
    from agrobr_spark.queries.admission import (
        admit_semdedup_frame,
        build_semdedup_index,
    )

    return _stream_admission(
        spark, sf_dir, "stream_admit_semdedup", build_semdedup_index,
        lambda cut: load(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") >= cut
        ),
        lambda batch, store_dir: admit_semdedup_frame(spark, batch, store_dir),
        "sem_seen", "vec_id",
        lambda seen: seen.filter(F.col("origem") == "lote").select(
            "vec_id", "cluster", "sim_centroide", "motivo", "mantido"
        ),
    )


def _stream_knn_graph_oracle() -> str:
    from agrobr_spark.queries.similarity import _frozen_graph_oracle

    return _frozen_graph_oracle()


def _stream_graph_clusters_oracle() -> str:
    """Clusters over the frozen-centroid graph on corpus ∪ batch —
    the `sim_graph_clusters` recursive-CTE fixpoint with the frozen
    graph as the edge source, so the driver hash-checks the
    incrementally-maintained labels against a from-scratch iterative
    definition."""
    from agrobr_spark.queries.similarity import _frozen_graph_oracle

    g = _frozen_graph_oracle()
    return f"""
    WITH RECURSIVE g AS (
      SELECT vec_id, neighbor_id FROM ({g})),
    mut AS (
      SELECT a.vec_id AS va, a.neighbor_id AS vb
      FROM g a JOIN g b
        ON a.vec_id = b.neighbor_id AND a.neighbor_id = b.vec_id
      WHERE a.vec_id < a.neighbor_id),
    arestas AS (
      SELECT va AS a, vb AS b FROM mut
      UNION SELECT vb, va FROM mut),
    alcance AS (
      SELECT a AS id, b AS peer FROM arestas
      UNION
      SELECT r.id, e.b FROM alcance r JOIN arestas e ON r.peer = e.a),
    comp AS (
      SELECT id, least(id, min(peer)) AS componente
      FROM alcance GROUP BY id)
    SELECT e.vec_id,
           coalesce(c.componente, e.vec_id) AS grupo,
           CAST(count(*) OVER (
             PARTITION BY coalesce(c.componente, e.vec_id)) AS BIGINT)
             AS tamanho
    FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
    """


@register(
    "stream_graph_clusters_update",
    oracle=_stream_graph_clusters_oracle(),
    tags=("STREAM", "KNN_GRAPH", "COMPONENTS", "INCREMENTAL",
          "FOREACHBATCH"),
)
def stream_graph_clusters_update(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semantic cluster labels maintained INCREMENTALLY alongside the
    streamed kNN graph — the graph family's ITERATIVE consumer folded
    per micro-batch instead of recomputed: after each
    ``update_knn_graph_frame`` fold, ``update_graph_labels_frame``
    re-runs components ONLY over the touched components' induced
    subgraph (seeds = changed nodes ∪ endpoints of candidate mutual
    edges incident to them; every mutual edge incident to that node
    set provably stays inside it — ``operators/knn_store.py``) and
    MERGEs the new labels; untouched components keep their labels
    verbatim. This handles both mutual-edge CREATION (component
    merges, including the one-sided case where only the other
    endpoint's reverse edge pre-existed) and top-k EVICTION
    (component splits) — the two reasons incremental connected
    components cannot be a union-find shortcut.

    The oracle recomputes the identical fixpoint from scratch as a
    DuckDB recursive CTE over the frozen-centroid graph on corpus ∪
    batch, so the driver hash proves maintained ≡ recomputed — the
    `sim_graph_clusters` discipline carried to the incremental path.
    Epoch 0 is replayed in-line after the stream drains (the update
    recomputes the same touched components from the same current
    edges — idempotent by construction).

    Per-batch cost: the graph fold (affected nodes only) + a
    components run bounded by the touched components' size — at
    100 TB a batch relabels its semantic neighborhoods, never the
    corpus."""
    from agrobr_spark.io import load
    from agrobr_spark.operators.knn_store import (
        build_graph_labels,
        build_knn_graph_index,
        read_graph_clusters,
        update_graph_labels_frame,
        update_knn_graph_frame,
    )
    from agrobr_spark.queries.admission import _split_params
    from agrobr_spark.queries.similarity import GRAPH_K, GRAPH_PROBE

    with scratch_dir(spark, "stream_knn_lbl_") as store_dir:
        cut, n_corp = _split_params(spark, sf_dir)
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        corpus = emb.filter(F.col("vec_id") < cut)

        def _build() -> None:
            build_knn_graph_index(
                corpus,
                store_dir,
                k=GRAPH_K,
                n_probe=GRAPH_PROBE,
                n_centroids=max(4, int(GRAPH_PROBE * n_corp**0.5)),
            )
            build_graph_labels(spark, store_dir, corpus.select("vec_id"))

        def handle(batch: DataFrame, batch_id: int) -> None:
            staged_edges = update_knn_graph_frame(
                spark, batch, store_dir, k=GRAPH_K, n_probe=GRAPH_PROBE
            )
            update_graph_labels_frame(
                spark,
                staged_edges.select("vec_id").unionByName(
                    batch.select("vec_id")
                ),
                store_dir,
            )

        # replay epoch 0: both folds must be no-ops by construction
        _fold_stream(
            spark, emb.filter(F.col("vec_id") >= cut), handle,
            "stream_graph_clusters_update", id_col="vec_id", cut=cut,
            build=_build, replay=True, timeout_s=240,
        )
        return read_graph_clusters(spark, store_dir).localCheckpoint(
            eager=True
        )


def _stream_pagerank_oracle() -> str:
    """Per-component PageRank recomputed FROM SCRATCH over the
    frozen-centroid graph on corpus ∪ batch — the `stream_graph_
    clusters_update` discipline applied to the rank store: ONE oracle
    definition (shared with the batch entry via
    `_pagerank_components_oracle_body`) hash-proves maintained ≡
    recomputed for the whole fixed-iteration trajectory."""
    from agrobr_spark.queries.similarity import (
        _frozen_graph_oracle,
        _pagerank_components_oracle_body,
    )

    return _pagerank_components_oracle_body(_frozen_graph_oracle())


@register(
    "stream_pagerank_update",
    oracle=_stream_pagerank_oracle(),
    tags=("STREAM", "KNN_GRAPH", "PAGERANK", "INCREMENTAL",
          "FOREACHBATCH"),
)
def stream_pagerank_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cluster PageRank maintained INCREMENTALLY alongside the
    streamed kNN graph (r10 VERDICT next #1 — the last rebuild-only
    iterative consumer): after each micro-batch's edge fold and label
    fold, ``update_graph_pageranks_frame`` re-runs the fixed
    {it}-iteration loop ONLY over the touched components' membership
    (exactly the label fold's relabeled rows) against their induced
    edges, and MERGEs; every node outside the touched components
    keeps its rank BYTE-IDENTICALLY — not approximately — because
    within-cluster PageRank decomposes exactly per component (every
    induced edge stays inside one label; `operators/pagerank.py`).
    Global PageRank does not decompose — its redistributed form
    couples all nodes through the per-iteration dangling quota — so
    the global entries stay rebuild-only by design and THIS
    per-component variant is the maintained one (the bounded
    alternative the verdict ordered documented).

    The oracle recomputes the identical trajectory from scratch over
    the frozen-centroid graph on corpus ∪ batch (one oracle body
    shared with `graph_pagerank_components`), so the driver hash
    proves maintained ≡ recomputed. Epoch 0 is replayed in-line after
    the drain: same labels + same edges → the same deterministic
    trajectory, and the MERGE is PK-last-writer-wins — idempotent.

    Per-batch cost: the graph fold (affected nodes only) + the label
    fold (touched components) + {it} equi-join/aggregate rounds over
    |touched| rows and ONE balde-pruned edge read — at 100 TB a batch
    re-ranks its semantic neighborhoods, never the corpus."""
    from agrobr_spark.io import load
    from agrobr_spark.operators.knn_store import (
        build_graph_labels,
        build_graph_pageranks,
        build_knn_graph_index,
        read_graph_pageranks,
        update_graph_labels_frame,
        update_graph_pageranks_frame,
        update_knn_graph_frame,
    )
    from agrobr_spark.queries.admission import _split_params
    from agrobr_spark.queries.similarity import GRAPH_K, GRAPH_PROBE

    with scratch_dir(spark, "stream_knn_pr_") as store_dir:
        cut, n_corp = _split_params(spark, sf_dir)
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        corpus = emb.filter(F.col("vec_id") < cut)

        def _build() -> None:
            build_knn_graph_index(
                corpus,
                store_dir,
                k=GRAPH_K,
                n_probe=GRAPH_PROBE,
                n_centroids=max(4, int(GRAPH_PROBE * n_corp**0.5)),
            )
            labels = build_graph_labels(
                spark, store_dir, corpus.select("vec_id")
            )
            # hand the checkpointed labels straight to the rank build
            # instead of re-reading the table just written (r14)
            build_graph_pageranks(spark, store_dir, labels=labels)

        def handle(batch: DataFrame, batch_id: int) -> None:
            staged_edges = update_knn_graph_frame(
                spark, batch, store_dir, k=GRAPH_K, n_probe=GRAPH_PROBE
            )
            relabeled = update_graph_labels_frame(
                spark,
                staged_edges.select("vec_id").unionByName(
                    batch.select("vec_id")
                ),
                store_dir,
            )
            update_graph_pageranks_frame(spark, relabeled, store_dir)

        # replay epoch 0: all three folds must be no-ops by construction
        _fold_stream(
            spark, emb.filter(F.col("vec_id") >= cut), handle,
            "stream_pagerank_update", id_col="vec_id", cut=cut,
            build=_build, replay=True, timeout_s=240,
        )
        return read_graph_pageranks(spark, store_dir).localCheckpoint(
            eager=True
        )


from agrobr_spark.operators.pagerank import PR_ITER as _PR_ITER  # noqa: E402

stream_pagerank_update.__doc__ = stream_pagerank_update.__doc__.replace(
    "{it}", str(_PR_ITER)
)


@register(
    "stream_knn_graph_update",
    oracle=_stream_knn_graph_oracle(),
    tags=("STREAM", "KNN_GRAPH", "FOREACHBATCH", "INCREMENTAL"),
)
def stream_knn_graph_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN graph maintained as a STREAM (r9 VERDICT next #1 — the
    last batch-only-refresh family): the corpus split builds the
    persisted graph state once (frozen centroids + cluster-partitioned
    member/probe tables + the top-k edge table,
    ``operators/knn_store.py``), batch vectors land as id-ranged
    ingest files, and every micro-batch folds in by touching ONLY
    affected nodes — assign the batch against the frozen centroids,
    partition-pruned reads of the touched clusters' probes and the
    probe clusters' members, re-rank affected nodes over (current
    edges ∪ new candidates), MERGE back. The corpus is never
    re-scanned and no node outside the touched clusters is read.

    Stream ≡ batch rebuild holds by the insert-only top-k folding
    identity (knn_store module docstring): the oracle is the same
    frozen-centroid graph over corpus ∪ batch computed in ONE
    non-recursive SQL query (`sim_knn_graph_frozen`'s oracle), so the
    driver hash-checks the maintained edge table against the
    from-scratch definition. After the stream drains, the first epoch
    is REPLAYED in-line — the update is idempotent by construction
    (pair-key dedupe + PK merges), and the oracle match proves it,
    the `stream_shard_manifest` convention.

    Per-batch cost is O(|batch| · cluster density + |affected| · k),
    independent of the vectors outside the touched clusters — the
    reference's incremental accumulate property (fetch only what's
    missing, never recompute the store; ref:
    agrobr/cepea/api.py:119-187) for the graph family."""
    from agrobr_spark.io import load
    from agrobr_spark.operators.knn_store import (
        build_knn_graph_index,
        read_knn_graph,
        update_knn_graph_frame,
    )
    from agrobr_spark.queries.admission import _split_params
    from agrobr_spark.queries.similarity import GRAPH_K, GRAPH_PROBE

    with scratch_dir(spark, "stream_knn_idx_") as store_dir:
        cut, n_corp = _split_params(spark, sf_dir)
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )

        def handle(batch: DataFrame, batch_id: int) -> None:
            update_knn_graph_frame(
                spark, batch, store_dir, k=GRAPH_K, n_probe=GRAPH_PROBE
            )

        # replay epoch 0: must be a no-op by construction, or the
        # oracle hash below fails with duplicated neighbors
        _fold_stream(
            spark, emb.filter(F.col("vec_id") >= cut), handle,
            "stream_knn_graph_update", id_col="vec_id", cut=cut,
            build=lambda: build_knn_graph_index(
                emb.filter(F.col("vec_id") < cut),
                store_dir,
                k=GRAPH_K,
                n_probe=GRAPH_PROBE,
                n_centroids=max(4, int(GRAPH_PROBE * n_corp**0.5)),
            ),
            replay=True,
        )
        return read_knn_graph(spark, store_dir).localCheckpoint(eager=True)


@register(
    "stream_export_shards",
    oracle=rf"""
    WITH lim AS (SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT)
                 AS corte FROM documents)
    SELECT doc_id, source,
      CAST(len({tokens_sql()}) AS BIGINT)
        AS n_tokens
    FROM documents, lim WHERE doc_id >= corte
    """,
    tags=("STREAM", "EXPORT", "SHARDS", "FOREACHBATCH"),
)
def stream_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming training-shard export: batch documents arrive as
    id-ranged ingest files, and every micro-batch is APPENDED to the
    shard store via ``append_training_shards`` — content-addressed
    shard assignment means a doc lands where the one-shot export
    would put it, and the manifest's row/token/xor-digest accounting
    merges associatively per batch. The final read goes through
    ``read_training_shards``' verify-on-read, so the returned frame
    has passed the per-shard hash check AFTER the streamed append
    sequence; the oracle then pins its content against the batch
    split computed in pure SQL. At 100 TB this is the always-on
    ingest→trainer handoff: per-batch cost is one shuffle on the
    shard id plus one accounting aggregation, independent of store
    size."""
    from agrobr_spark.io import load
    from agrobr_spark.queries.admission import _split_params
    from agrobr_spark.sources.sinks import (
        append_training_shards,
        read_training_shards,
        write_training_shards,
    )
    from agrobr_spark.store.fs import path_exists

    with scratch_dir(spark, "stream_shards_out_") as scratch:
        out_dir = f"{scratch}/shards"
        cut = _split_params(spark, sf_dir)[0]
        staged = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") >= cut)
            .select(
                "doc_id",
                "source",
                n_tokens("text").alias("n_tokens"),
            )
        )

        def handle(batch: DataFrame, batch_id: int) -> None:
            # batch_id is recorded in the manifest's applied_batch_ids,
            # so a foreachBatch replay of an already-applied epoch is a
            # no-op instead of double-counting rows/digests; the
            # empty-first-batch case is safe because the manifest tracks
            # token_col at the top level, independent of shard entries
            if path_exists(spark, out_dir + "/_manifest.json"):
                append_training_shards(batch, out_dir, batch_id=batch_id)
            else:
                write_training_shards(
                    batch,
                    out_dir,
                    key_col="doc_id",
                    n_shards=4,
                    token_col="n_tokens",
                    batch_id=batch_id,
                )

        _fold_stream(
            spark, staged, handle, "stream_export_shards",
            id_col="doc_id", cut=cut,
        )
        verified, _ = read_training_shards(spark, out_dir)
        return verified.select(
            "doc_id", "source", "n_tokens"
        ).localCheckpoint(eager=True)


def _stream_bm25_oracle() -> str:
    from agrobr_spark.queries.pipeline_text import (
        BM25_SCORES_CTE,
        BM25_TOPK,
    )

    return f"""
    WITH {BM25_SCORES_CTE}
    SELECT doc_id, n_termos, pontos FROM bm25
    ORDER BY pontos DESC, doc_id LIMIT {BM25_TOPK}
    """


@register(
    "stream_bm25_index_update",
    oracle=_stream_bm25_oracle(),
    tags=("STREAM", "RETRIEVAL", "BM25", "INDEX", "FOREACHBATCH"),
)
def stream_bm25_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The posting index maintained as a STREAM: the corpus split
    builds the term-bucketed index once, batch documents land as
    id-ranged ingest files, and every micro-batch folds its postings
    in via ``store/posting.update_posting_index`` — staged into a
    batch_id-derived directory at the bucket width frozen in the
    manifest, and published, stats delta with it, by ONE
    atomic manifest commit, so a replayed epoch is a no-op and a
    mid-write crash replays cleanly (crash-safe exactly-once, r9
    ADVICE; ``compact_posting_index`` later folds the accreted batch
    directories into a fresh base generation). The final frame answers the
    fixed BM25 query from the incrementally-built index; the oracle
    is the one-shot full-corpus BM25 — build+update ≡ rebuild is the
    driver-hash-checked identity, and the corpus split is never
    re-tokenized after its build."""
    from agrobr_spark.io import load
    from agrobr_spark.queries.admission import _split_params
    from agrobr_spark.queries.pipeline_text import (
        BM25_B,
        BM25_K1,
        BM25_QUERY,
        BM25_TOPK,
    )
    from agrobr_spark.store.posting import (
        bm25_topk_indexed,
        build_posting_index,
        update_posting_index,
    )

    with scratch_dir(spark, "stream_bm25_idx_") as store_dir:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        cut = _split_params(spark, sf_dir)[0]
        build_posting_index(docs.filter(F.col("doc_id") < cut), store_dir)

        def handle(batch: DataFrame, batch_id: int) -> None:
            update_posting_index(batch, store_dir, batch_id=batch_id)

        _fold_stream(
            spark, docs.filter(F.col("doc_id") >= cut), handle,
            "stream_bm25_index_update", id_col="doc_id", cut=cut,
        )
        out = bm25_topk_indexed(
            spark, store_dir, BM25_QUERY, BM25_TOPK, BM25_K1, BM25_B
        )
        return out.localCheckpoint(eager=True)


@register(
    "stream_dedup_exact",
    oracle="""
    SELECT DISTINCT user_id, event_type,
           CAST(date_trunc('day', ts) AS DATE) AS data
    FROM events
    """,
    tags=("STREAM", "DEDUP", "P7"),
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: first event per (user_id, event_type,
    day) via ``dropDuplicatesWithinWatermark`` — the streaming twin of
    P7/dedup_exact, and the idiom a streaming ingest uses to make an
    at-least-once feed effectively-exactly-once BEFORE it reaches a
    sink (the alternative to the sink-side MERGE of
    ``stream_upsert_merge``).

    State is bounded by the watermark: a key's dedup state lives only
    until the watermark passes its event time + 1 day, so state size
    tracks the horizon's key cardinality, not the stream's history —
    the property that makes this run forever at 100 TB/day. Only the
    key columns are emitted (which physical duplicate "wins" is
    arrival-order-dependent; the KEY SET is deterministic, so the
    oracle is a plain DISTINCT). A replay test
    (tests/test_streaming.py) feeds the same file twice through
    1-file micro-batches and asserts the emitted key set is unchanged
    — duplicates are suppressed by state while keys are in-horizon and
    by the watermark drop once they are not.
    """
    _COUNTER[0] += 1
    name = f"stream_dedup_exact_{_COUNTER[0]}"
    events = read_events_stream(spark, sf_dir)
    dedup = (
        events.withWatermark("ts", "1 day")
        .withColumn("data", F.col("ts").cast("date"))
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "data"])
        .select("user_id", "event_type", "data")
    )
    return run_available_now(dedup, name, mode="append")


@register(
    "stream_source_divergence",
    oracle=rf"""
    WITH lim AS (
      SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT) AS corte,
             CAST(max(doc_id) AS BIGINT) AS mx
      FROM documents),
    par AS (
      SELECT corte,
             greatest(1, CAST(((mx - corte + 3) // 3) AS BIGINT)) AS span
      FROM lim),
    toks AS (
      SELECT d.doc_id, lower(u.tok) AS termo
      FROM (SELECT doc_id, {tokens_sql()} AS t
            FROM documents WHERE len({tokens_sql()}) > 0) d,
           unnest(d.t) AS u(tok)),
    corpus AS (
      SELECT termo, CAST(count(*) AS BIGINT) AS cc
      FROM toks GROUP BY termo),
    vocab AS (
      SELECT termo, cc FROM corpus ORDER BY cc DESC, termo LIMIT 500),
    tc AS (SELECT CAST(sum(cc) AS BIGINT) AS total_corpus FROM vocab),
    feed AS (
      SELECT t.doc_id, t.termo,
             least(2, (t.doc_id - p.corte) // p.span) AS lote
      FROM toks t, par p WHERE t.doc_id >= p.corte),
    contagens AS (
      SELECT lote, termo, count(*) AS cs FROM feed GROUP BY lote, termo),
    no_vocab AS (
      SELECT c.lote, c.termo, c.cs, v.cc
      FROM contagens c JOIN vocab v USING (termo)),
    ts AS (
      SELECT lote, CAST(sum(cs) AS BIGINT) AS total_lote
      FROM no_vocab GROUP BY lote),
    inicio AS (
      SELECT least(2, (doc_id - p.corte) // p.span) AS lote,
             CAST(min(doc_id) AS BIGINT) AS lote_inicio
      FROM documents, par p WHERE doc_id >= p.corte GROUP BY 1)
    SELECT i.lote_inicio,
      CAST(count(*) AS BIGINT) AS n_termos,
      CAST(t.total_lote AS BIGINT) AS n_tokens_vocab,
      round(CAST(sum(
        CAST(round(
          (CAST(n.cs AS DOUBLE) / t.total_lote)
          * log2((CAST(n.cs AS DOUBLE) / t.total_lote)
                 / (CAST(n.cc AS DOUBLE) / tc.total_corpus)), 8)
        AS DECIMAL(18,8))) AS DOUBLE), 6) AS kl_bits
    FROM no_vocab n JOIN ts t USING (lote) JOIN inicio i USING (lote), tc
    GROUP BY i.lote_inicio, t.total_lote
    """,
    tags=("STREAM", "KL", "DRIFT", "MONITOR"),
)
def stream_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: each ingest micro-batch's unigram
    distribution is scored as KL divergence (bits) against the FROZEN
    historical corpus blend — the live twin of
    ``corpus_source_divergence``, and the alert a production feed
    raises when a scraper breaks, an encoding shifts, or one domain
    floods the pipe: the batch's KL jumps immediately, before any
    per-document filter trips.

    Frozen-reference discipline (the admission-index pattern): the
    top-500 vocabulary and its corpus totals are computed ONCE from
    the historical corpus and broadcast into every ``foreachBatch``
    call — per-batch cost is one explode + one keyed count + a
    broadcast join against 500 rows, independent of corpus size.
    Batches are keyed by their minimum doc id (not the engine's batch
    counter), so the emitted report is engine-independent and the
    DuckDB oracle reproduces the id-range chunking in pure SQL.
    Determinism is ``corpus_source_divergence``'s: exact bigint
    counts, identical division/log expression, 8dp-rounded terms
    summed as DECIMAL."""
    from agrobr_spark.io import load
    from agrobr_spark.queries.admission import _split_params

    cut = _split_params(spark, sf_dir)[0]
    docs = load(spark, sf_dir, "documents")

    # frozen blend: top-500 corpus vocabulary + totals
    vocab = (
        term_rows(docs)
        .groupBy("termo")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cc"))
        .orderBy(F.desc("cc"), "termo")
        .limit(500)
        .localCheckpoint(eager=True)
    )
    total_corpus = int(
        vocab.agg(F.sum("cc")).collect()[0][0] or 0
    )

    relatorio: list[tuple[int, int, int, float]] = []

    def handle(batch: DataFrame, batch_id: int) -> None:
        head = batch.agg(F.min("doc_id")).collect()[0][0]
        if head is None:
            return
        counts = (
            term_rows(batch)
            .groupBy("termo")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cs"))
            .join(F.broadcast(vocab), "termo")
        )
        tot = counts.agg(
            F.count(F.lit(1)).alias("n_termos"), F.sum("cs").alias("ts")
        ).collect()[0]
        if not tot["ts"]:
            return
        ts = int(tot["ts"])
        p = F.col("cs").cast("double") / F.lit(float(ts))
        q = F.col("cc").cast("double") / F.lit(float(total_corpus))
        kl = counts.select(
            F.round(p * F.log2(p / q), 8)
            .cast("decimal(18,8)")
            .alias("termo_kl")
        ).agg(
            F.round(F.sum("termo_kl").cast("double"), 6).alias("kl")
        ).collect()[0]["kl"]
        relatorio.append((int(head), int(tot["n_termos"]), ts, float(kl)))

    _fold_stream(
        spark,
        docs.filter(F.col("doc_id") >= cut).select("doc_id", "text"),
        handle,
        "stream_source_divergence",
        id_col="doc_id",
        cut=cut,
    )
    out = spark.createDataFrame(
        relatorio,
        "lote_inicio bigint, n_termos bigint, "
        "n_tokens_vocab bigint, kl_bits double",
    )
    return out.localCheckpoint(eager=True)


def _stream_hh_oracle() -> str:
    from agrobr_spark.queries.pipeline_text import HH_SUPPORT

    return rf"""
    WITH toks AS (
      SELECT lower(u.tok) AS termo
      FROM (SELECT {tokens_sql()} AS t
            FROM documents WHERE len({tokens_sql()}) > 0) d,
           unnest(d.t) AS u(tok)),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM toks)
    SELECT termo, CAST(count(*) AS BIGINT) AS n,
           round(count(*) / CAST(t.total AS DOUBLE), 6) AS freq
    FROM toks, tot t
    GROUP BY termo, t.total
    HAVING count(*) >= ceil({HH_SUPPORT} * t.total)
    """


@register(
    "stream_heavy_hitters",
    oracle=_stream_hh_oracle(),
    tags=("STREAM", "HEAVY_HITTERS", "FOREACHBATCH", "MISRA_GRIES"),
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters maintained as a STREAM — the candidate pass of
    ``text_heavy_hitters`` run incrementally: each micro-batch's token
    counts MERGE into a persisted counter table, and whenever the
    table exceeds the Misra-Gries capacity (4/support counters) every
    counter is decremented by the (cap+1)-th largest count and
    non-positive counters drop — the classic MG decrement executed
    set-orientedly (one per-batch threshold aggregate, one filter),
    which preserves the no-false-negative guarantee: a token with true
    frequency above the support bar cannot be decremented to zero at
    this capacity. Replayed epochs are no-ops via the manifest's
    applied_batch_ids guard (the posting-index pattern).

    At read time the surviving candidates (≤ cap rows) take ONE exact
    counting pass — so the answer is EXACT and the oracle is the same
    plain GROUP BY ... HAVING that pins the batch entry. The stream's
    point is state: per-batch cost is O(batch tokens + cap), the
    counter table never exceeds cap rows however large the corpus
    grows, and no corpus re-scan happens until someone asks."""
    from agrobr_spark.io import load
    from agrobr_spark.queries.pipeline_text import HH_SUPPORT

    cap = int(4 / HH_SUPPORT)
    with scratch_dir(spark, "stream_hh_") as store_dir:
        docs = (
            load(spark, sf_dir, "documents")
            .filter(has_tokens("text"))
            .select("doc_id", "text")
        )

        def step(batch: DataFrame, prev: DataFrame) -> DataFrame:
            bc = (
                term_rows(batch)
                .groupBy("termo")
                .agg(F.count(F.lit(1)).cast("bigint").alias("bc"))
            )
            merged = (
                prev.join(bc, "termo", "full_outer")
                .select(
                    "termo",
                    (
                        F.coalesce(F.col("cnt"), F.lit(0))
                        + F.coalesce(F.col("bc"), F.lit(0))
                    ).alias("cnt"),
                )
            ).localCheckpoint(eager=True)
            n_rows = merged.count()
            if n_rows > cap:
                # MG decrement: subtract the (cap+1)-th largest count
                # from everyone, drop the non-positive — one ordered
                # scalar read (cap+1 bounded) + one narrow map
                kth = (
                    merged.orderBy(F.desc("cnt"), "termo")
                    .limit(cap + 1)
                    .orderBy(F.asc("cnt"), F.desc("termo"))
                    .limit(1)
                    .collect()[0]["cnt"]
                )
                merged = merged.select(
                    "termo", (F.col("cnt") - F.lit(kth)).alias("cnt")
                ).filter(F.col("cnt") > 0)
            return merged.localCheckpoint(eager=True)

        # state publish and replay-guard flip in one atomic commit
        handle, current = _versioned_state(
            spark, store_dir, "counters", "termo string, cnt bigint", step
        )
        _fold_stream(
            spark, docs, handle, "stream_heavy_hitters", id_col="doc_id"
        )

        # read-time exact verify: ≤ cap candidates, one counting pass
        cands = [r["termo"] for r in current().collect()]
        toks = term_rows(docs)
        tot = toks.groupBy().agg(
            F.count(F.lit(1)).cast("bigint").alias("total")
        )
        out = (
            toks.filter(F.col("termo").isin(cands))
            .groupBy("termo")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .crossJoin(F.broadcast(tot))
            .filter(
                F.col("n") >= F.ceil(F.lit(HH_SUPPORT) * F.col("total"))
            )
            .select(
                "termo",
                "n",
                F.round(
                    F.col("n") / F.col("total").cast("double"), 6
                ).alias("freq"),
            )
        )
        return out.localCheckpoint(eager=True)


# -- streaming DSIR: frozen importance models score each micro-batch --


def _stream_dsir_oracle() -> str:
    from agrobr_spark.queries.training_prep import (
        _DSIR_B_DUCK,
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
    )

    return rf"""
    WITH lim AS (
      SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT) AS corte
      FROM documents),
    toks AS (
      SELECT d.doc_id, d.alvo, lower(u.tok) AS termo
      FROM (SELECT doc_id, lang = '{DSIR_TARGET_LANG}' AS alvo,
                   {tokens_sql()} AS t
            FROM documents WHERE len({tokens_sql()}) > 0) d,
           unnest(d.t) AS u(tok)),
    db AS (
      SELECT doc_id, alvo, {_DSIR_B_DUCK} AS balde,
             CAST(count(*) AS BIGINT) AS n
      FROM toks GROUP BY doc_id, alvo, 3),
    modelo AS (
      SELECT balde, CAST(sum(n) AS BIGINT) AS cr,
             CAST(sum(CASE WHEN alvo THEN n ELSE 0 END) AS BIGINT) AS ct
      FROM db, lim WHERE doc_id < corte GROUP BY balde),
    tot AS (
      SELECT CAST(sum(cr) AS BIGINT) AS r_total,
             CAST(sum(ct) AS BIGINT) AS t_total
      FROM modelo),
    pontos AS (
      SELECT d.doc_id, d.n,
        CAST(round(d.n * (
          log2(CAST(coalesce(m.ct, 0) + 1 AS DOUBLE)
               / (tot.t_total + {DSIR_BUCKETS}))
          - log2(CAST(coalesce(m.cr, 0) + 1 AS DOUBLE)
                 / (tot.r_total + {DSIR_BUCKETS}))), 6)
          AS DECIMAL(18,6)) AS p
      FROM db d LEFT JOIN modelo m USING (balde), tot, lim
      WHERE d.doc_id >= lim.corte)
    SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
      CAST(sum(p) AS DOUBLE) AS pontuacao_dsir,
      CAST(sum(p) AS DOUBLE) > 0 AS selecionado
    FROM pontos GROUP BY doc_id
    """


@register(
    "stream_dsir_weights",
    oracle=_stream_dsir_oracle(),
    tags=("STREAM", "DSIR", "MIX", "INCREMENTAL"),
)
def stream_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring as a STREAM: the hashed-unigram target
    and raw models are FROZEN from the historical corpus (docs below
    the admission cut) and every arriving micro-batch is scored
    against them — the production shape where the importance model is
    fit once on the curated corpus and new crawl batches get weights
    on arrival (Xie et al. 2023 §3: the estimator is fit before
    selection; ``pipeline_dsir_weights`` is the one-shot twin).

    Frozen-model discipline (the ``stream_source_divergence``
    pattern): the {b}-bucket model table and its two totals are
    computed ONCE and broadcast into every ``foreachBatch`` call —
    per-batch cost is one explode + one (doc, bucket) aggregation +
    a broadcast join against ≤{b} rows, independent of corpus size.
    Buckets the frozen model never saw score through the same
    Laplace floor via LEFT join + coalesce(0) — identical expression
    in the oracle, so the smoothing at the model boundary is
    hash-checked, not assumed. Per-doc rows append to a parquet
    result table (never the driver); scores are deterministic decimal
    sums, so the final whole-row dedupe makes a replayed epoch
    harmless. The score itself is batch-independent by construction —
    which is exactly what the one-shot oracle proves."""
    from agrobr_spark.io import load
    from agrobr_spark.queries.admission import _split_params
    from agrobr_spark.queries.training_prep import (
        _DSIR_B_SPARK,
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
    )

    with scratch_dir(spark, "stream_dsir_out_") as scores_dir:
        cut = _split_params(spark, sf_dir)[0]
        docs = load(spark, sf_dir, "documents")

        # frozen models: (balde, cr, ct) + totals from the corpus side
        toks = term_rows(
            docs.filter(F.col("doc_id") < cut).withColumn(
                "alvo", F.col("lang") == DSIR_TARGET_LANG
            ),
            "doc_id", "alvo",
        )
        modelo = (
            toks.groupBy(F.expr(_DSIR_B_SPARK).alias("balde"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cr"),
                F.sum(F.when(F.col("alvo"), 1).otherwise(0))
                .cast("bigint")
                .alias("ct"),
            )
            .localCheckpoint(eager=True)
        )
        tot = modelo.agg(
            F.sum("cr").alias("r"), F.sum("ct").alias("t")
        ).collect()[0]
        r_total, t_total = int(tot["r"] or 0), int(tot["t"] or 0)

        p_t = (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double") / F.lit(
            t_total + DSIR_BUCKETS
        )
        p_r = (F.coalesce(F.col("cr"), F.lit(0)) + 1).cast("double") / F.lit(
            r_total + DSIR_BUCKETS
        )
        contrib = F.round(
            F.col("n") * (F.log2(p_t) - F.log2(p_r)), 6
        ).cast("decimal(18,6)")

        def handle(batch: DataFrame, batch_id: int) -> None:
            db = (
                term_rows(batch, "doc_id")
                .groupBy("doc_id", F.expr(_DSIR_B_SPARK).alias("balde"))
                .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            )
            pontos = db.join(F.broadcast(modelo), "balde", "left").select(
                "doc_id", "n", contrib.alias("p")
            )
            write_parquet(
                pontos.groupBy("doc_id").agg(
                    F.sum("n").cast("bigint").alias("n_tokens"),
                    F.sum("p").cast("double").alias("pontuacao_dsir"),
                    (F.sum("p").cast("double") > 0).alias("selecionado"),
                ),
                scores_dir,
                mode="append",
            )

        _fold_stream(
            spark,
            docs.filter(F.col("doc_id") >= cut).select("doc_id", "text"),
            handle,
            "stream_dsir_weights",
            id_col="doc_id",
            cut=cut,
        )
        out = read_parquet(spark, scores_dir).dropDuplicates(["doc_id"])
        return out.localCheckpoint(eager=True)


from agrobr_spark.queries.training_prep import DSIR_BUCKETS as _DSIR_B

stream_dsir_weights.__doc__ = stream_dsir_weights.__doc__.format(b=_DSIR_B)


# -- streaming approximate distinct users per window ---------------------

_SAD_RSD = 0.05  # HLL++ relative standard deviation per window


@register(
    "stream_approx_distinct",
    # Self-verifying sketch shape (the a18 discipline, streamed): the
    # per-window HLL++ estimate can't be replicated bit-level by the
    # oracle engine, so the Spark side verifies its OWN estimate
    # against the exact batch distinct count at read time and emits
    # the boolean; the oracle pins the exact counts + the all-TRUE
    # frame.
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS data, event_type,
      CAST(count(*) AS BIGINT) AS n,
      CAST(count(DISTINCT user_id) AS BIGINT) AS usuarios_exato,
      TRUE AS dentro
    FROM events GROUP BY 1, 2
    """,
    tags=("STREAM", "APPROX", "PROFILE"),
)
def stream_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per tumbling day window, maintained as a REAL
    Structured Streaming aggregation with ``approx_count_distinct``
    (rsd={rsd}) — the streaming twin of ``a18_approx_distinct`` and
    the only shape that works at all in a stream: exact
    count(DISTINCT) is unsupported in streaming aggregations because
    it would need unbounded per-window value state, while the HLL++
    sketch is fixed-size per (window, type) and merges per batch.

    The exact verify is paid ONCE at read time against the batch
    table (the ``stream_heavy_hitters`` discipline): ``dentro`` is
    TRUE when the stream's estimate lands within 3·rsd of the exact
    count (floor of 1 for the sketch's small-cardinality sparse
    mode, where it is exact anyway).

    At 100 TB of events/day the state is (windows x types) sketches
    of ~1.5 KB each regardless of user cardinality — the verify join
    is the fixture's error-contract check, not part of the production
    plan."""
    _COUNTER[0] += 1
    name = f"stream_approx_distinct_{_COUNTER[0]}"
    from agrobr_spark.io import load

    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("janela"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.approx_count_distinct("user_id", rsd=_SAD_RSD).alias(
                "u_aprox"
            ),
        )
    )
    res = run_available_now(agg, name).select(
        F.col("janela.start").cast("date").alias("data"),
        "event_type",
        "n",
        "u_aprox",
    )
    exato = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", "ts").cast("date").alias("data"),
            "event_type",
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("usuarios_exato"))
    )
    tol = F.greatest(
        F.lit(1.0), F.lit(3.0 * _SAD_RSD) * F.col("usuarios_exato")
    )
    return res.join(exato, ["data", "event_type"]).select(
        "data",
        "event_type",
        "n",
        "usuarios_exato",
        (F.abs(F.col("u_aprox") - F.col("usuarios_exato")) <= tol).alias(
            "dentro"
        ),
    )


stream_approx_distinct.__doc__ = stream_approx_distinct.__doc__.format(
    rsd=_SAD_RSD
)


# -- stream-stream interval join: view -> purchase conversion ----------

_SSJ_HORIZON = "1 hour"  # purchase must land within this of the view


@register(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id,
      v.event_id AS view_id, p.event_id AS purchase_id,
      CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS atraso_s
    FROM events v JOIN events p
      ON v.user_id = p.user_id
      AND v.event_type = 'view' AND p.event_type = 'purchase'
      AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
    tags=("STREAM", "JOIN", "INTERVAL"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join — the Structured Streaming surface
    none of the other stream queries exercise: every (view, purchase)
    pair for the same user where the purchase lands within
    {h} of the view, i.e. real-time conversion attribution
    joining two live feeds (here two readers over the same events
    source; on a cluster, two Kafka topics with identical code).

    State contract: BOTH sides carry a watermark and the join
    condition carries an explicit event-time range, so Spark can
    bound the buffered state — a view is held only until the
    watermark passes ``view.ts + {h}`` and a purchase until its own
    event time expires; state size tracks the horizon's event rate,
    not stream history (the property that makes this run forever at
    100 TB/day — without the range condition, a stream-stream join
    must buffer both streams in full, which is the documented
    Structured Streaming failure mode this query exists to show the
    bounded form of).

    Determinism: inner interval joins emit exactly the condition's
    pair set regardless of micro-batch arrival order — no
    aggregation, no floats — so the oracle is the plain batch SQL
    join and the driver hash pins the exact pairs. The events fixture
    is append-only with event times, the same replay discipline as
    the other stream entries."""
    _COUNTER[0] += 1
    name = f"stream_stream_join_{_COUNTER[0]}"
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", _SSJ_HORIZON)
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", _SSJ_HORIZON)
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {_SSJ_HORIZON}")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        (
            F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")
        ).cast("bigint").alias("atraso_s"),
    )
    return run_available_now(joined, name, mode="append")


stream_stream_join.__doc__ = stream_stream_join.__doc__.format(
    h=_SSJ_HORIZON
)


# -- streamed shard manifest: additive export evidence ------------------


def _shard_manifest_oracle() -> str:
    from agrobr_spark.queries import _REGISTRY

    return _REGISTRY["pipeline_shard_manifest"].oracle


@register(
    "stream_shard_manifest",
    oracle=None,  # bound after training_prep import (module order)
    tags=("STREAM", "EXPORT", "MANIFEST", "FOREACHBATCH", "INCREMENTAL"),
)
def stream_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipeline_shard_manifest`` maintained INCREMENTALLY as
    documents stream in — the manifest table a continuously-exporting
    pipeline keeps next to its shards: per micro-batch, the batch's
    per-shard partials (doc count, token mass, 52-bit-md5 checksum
    sum, id range) fold into the persisted manifest with one
    full-outer merge. Every statistic is chosen to be MERGEABLE —
    counts and checksums add, ranges least/greatest — which is why
    the checksum is a sum of content hashes and not a positional
    hash (the ``pipeline_shard_manifest`` design carried to streams).

    Replay safety is proven in-query, not just tested: after the
    stream drains, the first ingest file is fed through the handler
    AGAIN — the ``applied_batch_ids`` guard (the posting-index
    pattern) makes it a no-op, and the driver's hash check against
    the one-shot batch oracle would catch a double-applied batch as
    doubled counts/checksums every round.

    Per-batch cost is O(batch) + a {n}-row manifest rewrite,
    independent of corpus size; the same oracle string as the batch
    twin pins stream ≡ one-shot."""
    from agrobr_spark.io import load
    from agrobr_spark.queries.training_prep import (
        _SHARD_H_ID,
        _SHARD_H_TXT,
        N_SHARDS,
    )

    with scratch_dir(spark, "stream_manifest_st_") as state:
        docs = load(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )

        def step(batch: DataFrame, prev: DataFrame) -> DataFrame:
            parcial = (
                batch.select(
                    F.expr(f"pmod({_SHARD_H_ID}, {N_SHARDS})")
                    .cast("int")
                    .alias("shard"),
                    "doc_id",
                    n_tokens("text").alias("n_tokens"),
                    F.expr(_SHARD_H_TXT).alias("h_txt"),
                )
                .groupBy("shard")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("b_docs"),
                    F.sum("n_tokens").cast("bigint").alias("b_tokens"),
                    F.sum(F.col("h_txt").cast("decimal(38,0)"))
                    .cast("decimal(38,0)")
                    .alias("b_soma"),
                    F.min("doc_id").cast("bigint").alias("b_min"),
                    F.max("doc_id").cast("bigint").alias("b_max"),
                )
            )
            return (
                prev.join(parcial, "shard", "full_outer")
                .select(
                    "shard",
                    (
                        F.coalesce("n_docs", F.lit(0))
                        + F.coalesce("b_docs", F.lit(0))
                    ).cast("bigint").alias("n_docs"),
                    (
                        F.coalesce("n_tokens", F.lit(0))
                        + F.coalesce("b_tokens", F.lit(0))
                    ).cast("bigint").alias("n_tokens"),
                    (
                        F.coalesce(
                            F.col("soma_verificacao"),
                            F.lit(0).cast("decimal(38,0)"),
                        )
                        + F.coalesce(
                            F.col("b_soma"), F.lit(0).cast("decimal(38,0)")
                        )
                    ).cast("decimal(38,0)").alias("soma_verificacao"),
                    F.least(
                        F.coalesce("min_doc", "b_min"),
                        F.coalesce("b_min", "min_doc"),
                    ).cast("bigint").alias("min_doc"),
                    F.greatest(
                        F.coalesce("max_doc", "b_max"),
                        F.coalesce("b_max", "max_doc"),
                    ).cast("bigint").alias("max_doc"),
                )
                .localCheckpoint(eager=True)
            )

        # versioned state dir + one atomic commit (see _versioned_state)
        handle, current = _versioned_state(
            spark,
            state,
            "manifest",
            "shard int, n_docs bigint, n_tokens bigint,"
            " soma_verificacao decimal(38,0), min_doc bigint,"
            " max_doc bigint",
            step,
        )
        # replay batch 0: the guard must no-op, or the driver hash
        # check against the one-shot oracle fails with doubled sums
        _fold_stream(
            spark, docs, handle, "stream_shard_manifest",
            id_col="doc_id", replay=True,
        )
        # the store keeps the checksum as DECIMAL(38,0) (mergeable);
        # the report emits its exact STRING (the batch twin's
        # pandas-transport rule)
        return (
            current()
            .withColumn(
                "soma_verificacao",
                F.col("soma_verificacao").cast("string"),
            )
            .localCheckpoint(eager=True)
        )


from agrobr_spark.queries import _REGISTRY as _REG  # noqa: E402

_REG["stream_shard_manifest"].oracle = _shard_manifest_oracle()
