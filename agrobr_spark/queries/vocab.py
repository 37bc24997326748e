"""Incrementally-maintained corpus vocabulary statistics.

The document-frequency (DF) table is the corpus-level state behind
TF-IDF scoring, stop-word discovery, and vocabulary drift monitoring.
At 100 TB nobody recomputes it from scratch per day — a daily batch
ADDS its per-term document counts into the persisted table, the same
way `queries/admission.py` maintains the survivor index (extension
surface; the reference's nearest analog is its incremental accumulate,
/root/reference/agrobr/cepea/api.py:119-187).

Mechanics: DF is additive over disjoint document sets, so the update
is read-back + full-outer fold + MERGE (the MERGE-combine pattern of
`stream_upsert_merge` — NOT last-writer-wins, which would drop the
corpus-side counts). The store partitions on a 16-way md5 bucket of
the term so each MERGE rewrites only touched buckets and no partition
ever holds more than ~vocab/16 terms; the fold itself is an equi-join
on the term key. `pipeline_df_index_update` proves the composition
under the correctness gate: build on the corpus split, fold in the
batch split, hash-compare the final table against a one-shot SQL DF
over the full corpus.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from agrobr_spark.io import load
from agrobr_spark.normalize.expressions import has_tokens, tokens_sql
from agrobr_spark.queries import register
from agrobr_spark.store.fs import scratch_dir
from agrobr_spark.store.posting import term_rows, term_tf
from agrobr_spark.store.table import ParquetStore

N_VOCAB_BUCKETS = 16


def doc_freq(rows: DataFrame) -> DataFrame:
    """``(termo, df)``: the number of distinct documents holding each
    term of ``(doc_id, termo)`` rows — the one per-term document
    frequency (the DF table, stopword discovery, TF-IDF)."""
    return (
        rows.select("doc_id", "termo")
        .distinct()
        .groupBy("termo")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )


def tfidf_topk(rows: DataFrame, n: Column, k: int) -> DataFrame:
    """The one TF-IDF scorer: ``(doc_id, termo, tf, df)`` rows →
    ``(doc_id, termo, tf, df, tfidf, posicao)``, each document's top
    ``k`` terms. ``tfidf = round(tf · ln((n+1)/(df+1)), 6)`` for the
    corpus size ``n`` (a column, or an ``F.lit``); the top-k is one
    ``row_number`` keyed by ``doc_id``, ties broken on the term."""
    pontuado = rows.select(
        "doc_id",
        "termo",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df").cast("bigint").alias("df"),
        F.round(
            F.col("tf") * F.log((n + 1.0) / (F.col("df") + 1.0)), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "termo")
    return pontuado.withColumn(
        "posicao", F.row_number().over(w).cast("int")
    ).filter(F.col("posicao") <= int(k))


def _term_df(docs: DataFrame) -> DataFrame:
    """(termo, df, balde) per-term document frequency of one doc set."""
    balde = (
        F.conv(F.substring(F.md5(F.col("termo")), 1, 15), 16, 10)
        .cast("bigint") % N_VOCAB_BUCKETS
    ).cast("int")
    return doc_freq(term_rows(docs, "doc_id")).withColumn("balde", balde)


def _df_store(spark: SparkSession, store_dir: str) -> ParquetStore:
    return ParquetStore(
        spark,
        f"{store_dir}/vocab_df",
        primary_key=("termo",),
        partition_col="balde",
    )


def build_df_index(
    spark: SparkSession, docs: DataFrame, store_dir: str
) -> None:
    """One-shot DF table build from a document frame."""
    _df_store(spark, store_dir).overwrite(_term_df(docs))


def update_df_index(
    spark: SparkSession, batch_docs: DataFrame, store_dir: str
) -> None:
    """Additively fold a NEW batch's per-term document counts into the
    persisted DF table. The batch must be disjoint from already-indexed
    documents (the caller's admission pipeline guarantees that); under
    that contract the fold is exact — index(corpus) then
    update(batch) ≡ build(corpus ∪ batch), which
    tests/test_vocab.py asserts."""
    novo = _term_df(batch_docs)
    store = _df_store(spark, store_dir)
    if not store.exists():
        # an empty first batch creates no store (merge_upsert's
        # empty-batch contract), where an overwrite would write one
        store.merge_upsert(novo)
        return
    atual = store.read().select(
        "termo", F.col("df").alias("_df_atual")
    )
    combinado = (
        novo.join(atual, "termo", "left")
        .select(
            "termo",
            (F.col("df") + F.coalesce("_df_atual", F.lit(0)))
            .cast("bigint")
            .alias("df"),
            "balde",
        )
    )
    store.merge_upsert(combinado)


@register(
    "pipeline_df_index_update",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql()} AS t
      FROM documents WHERE len({tokens_sql()}) > 0),
    tf AS (
      SELECT DISTINCT doc_id, lower(tok) AS termo
      FROM toks, unnest(t) AS u(tok))
    SELECT termo, CAST(count(*) AS BIGINT) AS df,
      CAST(('0x' || substring(md5(termo), 1, 15))::UBIGINT % 16 AS INTEGER)
        AS balde
    FROM tf GROUP BY termo
    """,
    tags=("PIPELINE", "VOCAB", "INCREMENTAL", "MERGE"),
)
def pipeline_df_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental vocabulary maintenance end to end: build the DF
    table from the corpus split (doc_id < 80% cut, the admission
    family's split), additively MERGE the batch split's counts, and
    return the final table. The oracle computes the one-shot DF over
    the FULL corpus in SQL — hash equality proves the incremental fold
    is exact, not approximately converged."""
    from agrobr_spark.queries.admission import _split_params

    cut = _split_params(spark, sf_dir)[0]
    docs = load(spark, sf_dir, "documents")
    with scratch_dir(spark, "vocab_df_") as store_dir:
        build_df_index(spark, docs.filter(F.col("doc_id") < cut), store_dir)
        update_df_index(
            spark, docs.filter(F.col("doc_id") >= cut), store_dir
        )
        out = _df_store(spark, store_dir).read().select("termo", "df", "balde")
        return out.localCheckpoint(eager=True)


def tfidf_from_index(
    spark: SparkSession,
    batch_docs: DataFrame,
    store_dir: str,
    n_corpus: int,
    top_k: int = 5,
) -> DataFrame:
    """Score a batch's documents against the PERSISTED DF table — the
    daily operation once the index exists: no corpus rescan, the only
    inputs are the batch and the (bucket-partitioned) vocab table.
    ``n_corpus`` is the indexed document count (tracked by the caller's
    admission metadata). Unseen terms get df=0 — maximal IDF, which is
    what a novelty-sensitive scorer wants."""
    tf = term_tf(term_rows(batch_docs, "doc_id"), "doc_id")
    idx = _df_store(spark, store_dir).read().select("termo", "df")
    rows = tf.join(idx, "termo", "left").withColumn(
        "df", F.coalesce("df", F.lit(0))
    )
    return tfidf_topk(rows, F.lit(float(n_corpus)), top_k)


@register(
    "pipeline_tfidf_incremental",
    oracle=rf"""
    WITH lim AS (SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT)
                 AS corte FROM documents),
    toks AS (
      SELECT doc_id, {tokens_sql()} AS t
      FROM documents WHERE len({tokens_sql()}) > 0),
    dfx AS (
      SELECT termo, count(*) AS df FROM (
        SELECT DISTINCT tk.doc_id, lower(tok) AS termo
        FROM toks tk, unnest(t) AS u(tok), lim
        WHERE tk.doc_id < lim.corte)
      GROUP BY termo),
    n_idx AS (
      SELECT count(*) AS n FROM documents, lim
      WHERE doc_id < lim.corte AND len({tokens_sql()}) > 0),
    tf AS (
      SELECT tk.doc_id, lower(tok) AS termo, count(*) AS tf
      FROM toks tk, unnest(t) AS u(tok), lim
      WHERE tk.doc_id >= lim.corte
      GROUP BY 1, 2),
    pontuado AS (
      SELECT tf.doc_id, tf.termo, CAST(tf.tf AS BIGINT) AS tf,
        CAST(coalesce(d.df, 0) AS BIGINT) AS df,
        round(tf.tf * ln((n.n + 1.0) / (coalesce(d.df, 0) + 1.0)), 6)
          AS tfidf
      FROM tf LEFT JOIN dfx d USING (termo) CROSS JOIN n_idx n),
    topo AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, termo) AS posicao
      FROM pontuado)
    SELECT doc_id, termo, tf, df, tfidf, CAST(posicao AS INTEGER) AS posicao
    FROM topo WHERE posicao <= 5
    """,
    tags=("PIPELINE", "VOCAB", "TFIDF", "INCREMENTAL"),
)
def pipeline_tfidf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental TF-IDF end to end: build the DF index from the
    corpus split, score the BATCH split's docs against the frozen
    index only (no corpus rescan; unseen terms df=0 → maximal IDF).
    The oracle recomputes the identical scoring in SQL — corpus-side
    DF, batch-side TF, same log formula — so the index read-back path
    is hash-verified, not just the build."""
    from agrobr_spark.queries.admission import _split_params

    cut = _split_params(spark, sf_dir)[0]
    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < cut)
    with scratch_dir(spark, "vocab_tfidf_") as store_dir:
        build_df_index(spark, corpus, store_dir)
        n_corpus = corpus.filter(has_tokens("text")).count()
        out = tfidf_from_index(
            spark,
            docs.filter(F.col("doc_id") >= cut),
            store_dir,
            n_corpus,
        )
        return out.localCheckpoint(eager=True)


STOPWORD_DF_FRAC = 0.30  # a term in >=30% of docs is a stopword candidate


@register(
    "text_stopword_discovery",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql()} AS t
      FROM documents WHERE len({tokens_sql()}) > 0),
    n_docs AS (SELECT count(*) AS n FROM toks),
    dfx AS (
      SELECT termo, count(*) AS df FROM (
        SELECT DISTINCT doc_id, lower(tok) AS termo
        FROM toks, unnest(t) AS u(tok))
      GROUP BY termo)
    SELECT termo, CAST(df AS BIGINT) AS df,
      round(CAST(df AS DOUBLE) / n.n, 6) AS frac_docs
    FROM dfx, n_docs n
    WHERE CAST(df AS DOUBLE) / n.n >= {STOPWORD_DF_FRAC}
    """,
    tags=("TEXT", "VOCAB", "STOPWORDS"),
)
def text_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived stopword candidates: terms present in >=30% of
    documents, with their document frequency and fraction — the
    data-driven replacement for a hand-curated stopword list (quality
    scoring and TF-IDF both consume it; in TF-IDF the same terms are
    already demoted arithmetically, this entry makes the list itself
    inspectable). One DF aggregation (``doc_freq``, the helper the
    persisted DF table is built with) against a lazy 1-row corpus
    count — scan-bound, and at 100 TB the DF side reads the
    maintained index instead of recomputing
    (build_df_index/update_df_index)."""
    docs = load(spark, sf_dir, "documents")
    n_docs = (
        docs.filter(has_tokens("text"))
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dfx = doc_freq(term_rows(docs, "doc_id"))
    return (
        dfx.crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("df").cast("double") / F.col("n") >= STOPWORD_DF_FRAC
        )
        .select(
            "termo",
            "df",
            F.round(F.col("df").cast("double") / F.col("n"), 6).alias(
                "frac_docs"
            ),
        )
    )
