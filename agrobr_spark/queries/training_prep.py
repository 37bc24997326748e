"""Training-corpus preparation operators (extension surface).

Beyond the reference (north star) and beyond the dedup/admission
family already in the catalog: the remaining operations a 100 TB
training-data pipeline runs between "corpus is deduplicated" and
"tokens reach the trainer" —

- within-document repetition filters (Gopher-style rules: duplicate
  token mass, most-common-bigram coverage);
- cross-document duplicated-span accounting (C4/RefinedWeb-style
  line-dedup adapted to token shingles, with first-occurrence
  attribution);
- domain mixture sampling to a token budget (per-source weights,
  deterministic hash order, distributed prefix sum);
- pack-and-chunk sequence preparation (concatenate in deterministic
  order, cut every L tokens, account boundary-crossing docs).

Everything is built-in-expression Catalyst (no Python UDFs); the two
prefix-sum consumers use :func:`agrobr_spark.operators.prefix.
bucketed_prefix_sum` so no window ever runs over a single global (or
single per-source) partition — the scale hazard a naive
``Window.partitionBy(source).orderBy(...)`` cumulative sum hides.

Reference parity note: the reference has no training-prep surface;
closest analogs cited per-operator are its dedup/validation modules
(e.g. /root/reference/agrobr/validation/sanity.py for rule-flag
outputs). These operators follow the published heuristics (Gopher
Rae et al. 2021 §A1.1, C4 Raffel et al. 2020 §2.2) re-expressed as
Spark plans.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from agrobr_spark.io import load
from agrobr_spark.normalize.expressions import n_tokens, tokens
from agrobr_spark.queries import register
from agrobr_spark.queries.dedup import word_shingles

# the DuckDB oracles' spelling of normalize/expressions.tokens
_TOKS_DUCK = (
    "CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] "
    r"ELSE string_split_regex(trim(text), '\s+') END"
)

# -- within-doc repetition (Gopher §A1.1: duplicate mass / top n-gram) --

DUP_TOKEN_MAX = 0.60  # flag when >60% of tokens are repeat occurrences
TOP_BIGRAM_MAX = 0.18  # flag when the most common bigram covers >18%


@register(
    "text_repetition_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_DUCK} AS t FROM documents),
    tok_counts AS (
      SELECT doc_id, tok, count(*) AS c
      FROM toks, unnest(t) AS u(tok) GROUP BY doc_id, tok),
    tok_agg AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct, max(c) AS top_token_count
      FROM tok_counts GROUP BY doc_id),
    bg AS (
      SELECT doc_id,
        list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS b
      FROM toks),
    bg_counts AS (
      SELECT doc_id, bgram, count(*) AS c
      FROM bg, unnest(b) AS u(bgram) GROUP BY doc_id, bgram),
    bg_agg AS (
      SELECT doc_id, max(c) AS top_bigram_count FROM bg_counts GROUP BY doc_id)
    SELECT d.doc_id,
      coalesce(a.n_tokens, 0) AS n_tokens,
      coalesce(a.n_distinct, 0) AS n_distinct,
      CAST(coalesce(a.n_tokens, 0) - coalesce(a.n_distinct, 0) AS DOUBLE)
        / CAST(greatest(coalesce(a.n_tokens, 0), 1) AS DOUBLE)
        AS dup_token_ratio,
      CAST(coalesce(a.top_token_count, 0) AS DOUBLE)
        / CAST(greatest(coalesce(a.n_tokens, 0), 1) AS DOUBLE)
        AS top_token_ratio,
      CAST(2 * coalesce(g.top_bigram_count, 0) AS DOUBLE)
        / CAST(greatest(coalesce(a.n_tokens, 0), 1) AS DOUBLE)
        AS top_bigram_ratio,
      (CAST(coalesce(a.n_tokens, 0) - coalesce(a.n_distinct, 0) AS DOUBLE)
         / CAST(greatest(coalesce(a.n_tokens, 0), 1) AS DOUBLE)
         > {DUP_TOKEN_MAX}
       OR CAST(2 * coalesce(g.top_bigram_count, 0) AS DOUBLE)
         / CAST(greatest(coalesce(a.n_tokens, 0), 1) AS DOUBLE)
         > {TOP_BIGRAM_MAX}) AS repetitivo
    FROM documents d
    LEFT JOIN tok_agg a USING (doc_id)
    LEFT JOIN bg_agg g USING (doc_id)
    """,
    tags=("TEXT", "QUALITY", "REPETITION"),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition rules (Gopher §A1.1): duplicate token
    mass, most-frequent token coverage, most-frequent bigram coverage,
    and the keep/flag decision.

    Plan: one explode→two-level groupBy per n-gram order, keyed by
    ``doc_id`` — partial aggregation applies on both levels, the join
    back to ``documents`` is on the primary key, and nothing ever
    groups on a global key. At 100 TB the token explode is ~corpus
    token count rows but each flows map-side into per-(doc,token)
    partial counts; no skew (doc_id is unique-ish per group).
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("t")
    )
    tok_counts = (
        d.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tok_agg = tok_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_token_count"),
    )
    # bigrams: guard size<2 — Spark's sequence(0, -1) would DESCEND
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(sequence(1, size(t) - 1),"
            " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg_agg = (
        d.select("doc_id", F.explode(bigrams).alias("bgram"))
        .groupBy("doc_id", "bgram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_count"))
    )
    base = load(spark, sf_dir, "documents").select("doc_id")
    j = (
        base.join(tok_agg, "doc_id", "left")
        .join(bg_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            F.coalesce("top_token_count", F.lit(0)).alias("top_token_count"),
            F.coalesce("top_bigram_count", F.lit(0)).alias("top_bigram_count"),
        )
    )
    den = F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
    dup_ratio = (
        (F.col("n_tokens") - F.col("n_distinct")).cast("double") / den
    )
    top_tok = F.col("top_token_count").cast("double") / den
    top_bg = (F.lit(2) * F.col("top_bigram_count")).cast("double") / den
    return j.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        dup_ratio.alias("dup_token_ratio"),
        top_tok.alias("top_token_ratio"),
        top_bg.alias("top_bigram_ratio"),
        (
            (dup_ratio > F.lit(DUP_TOKEN_MAX))
            | (top_bg > F.lit(TOP_BIGRAM_MAX))
        ).alias("repetitivo"),
    )


# -- cross-doc duplicated spans (C4 §2.2 line dedup, token-shingle form) --

SPAN_W = 8  # tokens per span shingle
SHARE_MAX = 0.50  # flag when half the doc's spans exist elsewhere


@register(
    "text_span_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_DUCK} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        md5(array_to_string(t[i:i+{SPAN_W - 1}], ' ')) AS s
      FROM toks, unnest(range(1, len(t) - {SPAN_W - 2})) AS u(i)),
    stats AS (
      SELECT s, count(*) AS n_docs, min(doc_id) AS first_doc
      FROM sh GROUP BY s),
    per_doc AS (
      SELECT sh.doc_id,
        count(*) AS n_spans,
        CAST(sum(CASE WHEN st.n_docs >= 2 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_shared,
        CAST(sum(CASE WHEN st.n_docs >= 2 AND st.first_doc = sh.doc_id
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_first_owned
      FROM sh JOIN stats st USING (s) GROUP BY sh.doc_id)
    SELECT d.doc_id,
      coalesce(p.n_spans, 0) AS n_spans,
      coalesce(p.n_shared, 0) AS n_shared,
      coalesce(p.n_first_owned, 0) AS n_first_owned,
      CAST(coalesce(p.n_shared, 0) AS DOUBLE)
        / CAST(greatest(coalesce(p.n_spans, 0), 1) AS DOUBLE) AS share_ratio,
      CAST(coalesce(p.n_shared, 0) AS DOUBLE)
        / CAST(greatest(coalesce(p.n_spans, 0), 1) AS DOUBLE)
        >= {SHARE_MAX} AS duplicado
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    tags=("TEXT", "DEDUP", "SPAN"),
)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span accounting: the C4 "three-
    sentence line occurred elsewhere" rule adapted to 8-token shingles
    (the fixture corpus has no line structure), with first-occurrence
    attribution so a downstream scrubber can keep exactly one copy of
    each span.

    Plan: spans are md5-hashed (fixed 32-char width regardless of
    token length), made distinct per doc, aggregated once by span hash
    (count + min owner), then joined back on the hash — every stage is
    an equi-join/agg on a well-distributed key, the same lineage shape
    as `text_contamination` / `dedup_minhash_lsh`. At 100 TB the span
    stats table is the corpus's distinct-span count and both sides of
    the join are hash-partitioned on `s`; no driver collect, no skew
    (a span shared by millions of docs would be a stopword-like span —
    the SPAN_W=8 width makes that vanishingly rare, and AQE skew-join
    splits it if it happens).
    """
    spans = word_shingles(
        load(spark, sf_dir, "documents"), SPAN_W, "doc_id"
    ).withColumnRenamed("shingle", "s")
    stats = spans.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc")
    )
    per_doc = (
        spans.join(stats, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias("n_shared"),
            F.sum(
                ((F.col("n_docs") >= 2) & (F.col("first_doc") == F.col("doc_id")))
                .cast("long")
            ).alias("n_first_owned"),
        )
    )
    base = load(spark, sf_dir, "documents").select("doc_id")
    j = base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
        F.coalesce("n_first_owned", F.lit(0)).alias("n_first_owned"),
    )
    ratio = F.col("n_shared").cast("double") / F.greatest(
        F.col("n_spans"), F.lit(1)
    ).cast("double")
    return j.select(
        "doc_id",
        "n_spans",
        "n_shared",
        "n_first_owned",
        ratio.alias("share_ratio"),
        (ratio >= F.lit(SHARE_MAX)).alias("duplicado"),
    )


# -- domain mixture sampling to a token budget (DoReMi/Pile-style) --

# integer weight per source (numerator; denominator = their sum) so the
# whole budget computation stays in BIGINT arithmetic — bit-portable
# across engines, unlike float weight multiplication
MIX_WEIGHTS = {f"src{k}": (k % 4) + 1 for k in range(20)}
_MIX_W_SUM = sum(MIX_WEIGHTS.values())
MIX_FRACTION_DEN = 4  # overall budget = corpus tokens // 4

_W_CASE = (
    "CASE source "
    + " ".join(f"WHEN '{s}' THEN {w}" for s, w in sorted(MIX_WEIGHTS.items()))
    + " ELSE 1 END"
)


@register(
    "pipeline_data_mix",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, source,
        CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
          AS n_tokens,
        md5(CAST(doc_id AS VARCHAR)) AS k
      FROM documents),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM tok),
    cum AS (
      SELECT doc_id, source, n_tokens,
        CAST(row_number() OVER
          (PARTITION BY source ORDER BY k, doc_id) AS BIGINT) AS mix_rank,
        CAST(sum(n_tokens) OVER
          (PARTITION BY source ORDER BY k, doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM tok)
    SELECT doc_id, source, n_tokens, mix_rank, cum_tokens,
      (({_W_CASE}) * (total // {MIX_FRACTION_DEN})) // {_MIX_W_SUM}
        AS orcamento
    FROM cum, tot
    WHERE cum_tokens <=
      (({_W_CASE}) * (total // {MIX_FRACTION_DEN})) // {_MIX_W_SUM}
    """,
    tags=("PIPELINE", "MIX", "SAMPLING", "SCALE_DEFAULT"),
)
def pipeline_data_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling to a token budget: each source gets
    ``weight/W`` of an overall budget (corpus tokens // 4), docs are
    admitted in deterministic content-hash order until their source's
    budget is filled — the domain-reweighting step (Pile/DoReMi-style)
    that decides what the trainer actually sees.

    Scale shape: the running token sum per source is NOT a naive
    ``Window.partitionBy(source)`` (one task per source = death when a
    source holds 10^9 docs) but the two-level bucketed prefix sum
    (operators/prefix.py): the md5 order key's leading hex nibble is
    the order-aligned bucket, so the largest single window is 1/16th
    of one source, and one more nibble widens that to 1/256th. The
    budget itself is all-BIGINT arithmetic (integer weights, integer
    division) so the oracle — which runs the naive one-window form —
    hash-matches exactly.

    The catalog entry pins ``MIX_WEIGHTS``/``MIX_FRACTION_DEN`` for
    the oracle; library users call :func:`mix_by_token_budget` with
    their own weights.
    """
    d = load(spark, sf_dir, "documents")
    return mix_by_token_budget(d, MIX_WEIGHTS, MIX_FRACTION_DEN)


def mix_by_token_budget(
    docs: DataFrame,
    weights: dict[str, int],
    fraction_den: int,
    default_weight: int = 1,
) -> DataFrame:
    """Library form of ``pipeline_data_mix``: integer ``weights`` per
    source (denominator = their sum), overall budget = corpus tokens
    // ``fraction_den``; sources absent from ``weights`` get
    ``default_weight``. Same bucketed-prefix-sum plan as the catalog
    entry."""
    from agrobr_spark.operators.prefix import bucketed_prefix_sum

    w_sum = sum(weights.values())
    w_case = (
        "CASE source "
        + " ".join(f"WHEN '{s}' THEN {w}" for s, w in sorted(weights.items()))
        + f" ELSE {default_weight} END"
    )
    tok = docs.select(
        "doc_id",
        "source",
        n_tokens("text").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("k"),
    ).withColumn("balde", F.substring("k", 1, 1))
    total = tok.groupBy().agg(F.sum("n_tokens").cast("long").alias("total"))
    cum = bucketed_prefix_sum(
        tok,
        bucket_col="balde",
        order_cols=("k", "doc_id"),
        val_cols={"cum_tokens": "n_tokens", "mix_rank": F.lit(1).cast("long")},
        part_cols=("source",),
    )
    budget = F.expr(f"(({w_case}) * (total div {fraction_den})) div {w_sum}")
    return (
        cum.crossJoin(F.broadcast(total))
        .withColumn("orcamento", budget)
        .filter(F.col("cum_tokens") <= F.col("orcamento"))
        .select(
            "doc_id", "source", "n_tokens", "mix_rank", "cum_tokens", "orcamento"
        )
    )


# -- pack-and-chunk sequence preparation (GPT-style concat + cut) --

CHUNK_TOKENS = 512  # trainer sequence length in (whitespace) tokens


@register(
    "pipeline_pack_chunks",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id,
        CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
          AS n_tokens
      FROM documents),
    cum AS (
      SELECT doc_id, n_tokens,
        CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
             AS BIGINT) AS fim
      FROM tok),
    spans AS (
      SELECT doc_id, n_tokens, fim, fim - n_tokens AS inicio,
        (fim - n_tokens) // {CHUNK_TOKENS} AS c0,
        (fim - 1) // {CHUNK_TOKENS} AS c1
      FROM cum WHERE n_tokens > 0),
    por_chunk AS (
      SELECT CAST(u.c AS BIGINT) AS chunk_id, doc_id,
        least(fim, (u.c + 1) * {CHUNK_TOKENS})
          - greatest(inicio, u.c * {CHUNK_TOKENS}) AS tok_no_chunk,
        CASE WHEN inicio < u.c * {CHUNK_TOKENS} THEN 1 ELSE 0 END AS cruzou
      FROM spans, unnest(range(c0, c1 + 1)) AS u(c))
    SELECT chunk_id,
      count(*) AS n_docs,
      CAST(sum(tok_no_chunk) AS BIGINT) AS n_tokens_chunk,
      min(doc_id) AS primeiro_doc,
      max(doc_id) AS ultimo_doc,
      CAST(sum(cruzou) AS BIGINT) AS n_cruzando
    FROM por_chunk GROUP BY chunk_id
    """,
    tags=("PIPELINE", "PACK", "SCALE_DEFAULT"),
)
def pipeline_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack-and-chunk sequence preparation: documents are concatenated
    in deterministic ``doc_id`` order and cut every ``CHUNK_TOKENS``
    tokens (the GPT-style training layout); per chunk the operator
    reports how many docs it spans, its token fill, its doc range and
    how many docs crossed into it from the previous chunk — the
    numbers a packing job needs to audit boundary waste.

    Scale shape: the global running token sum uses the bucketed prefix
    sum (operators/prefix.py) with ``doc_id div B`` as the
    order-aligned bucket, ``B = ceil(sqrt(max_id + 1))`` — sqrt-sized
    buckets make BOTH levels ~sqrt(n) rows, so no task ever sees the
    whole order (recurse a third level past ~10^13 docs). The chunk
    explosion emits ``ceil(doc_tokens / L)`` rows per doc (≈1 for
    realistic L), and the final per-chunk aggregation is an ordinary
    partial+final groupBy on chunk_id. The oracle runs the naive
    global-window form; integer sums make the two plans hash-equal.
    """
    from agrobr_spark.operators.prefix import bucketed_prefix_sum

    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        n_tokens("text").alias("n_tokens"),
    )
    width = tok.groupBy().agg(
        F.expr(
            "CAST(ceil(sqrt(CAST(max(doc_id) + 1 AS DOUBLE))) AS BIGINT)"
        ).alias("b_width")
    )
    bucketed = (
        tok.crossJoin(F.broadcast(width))
        .withColumn("balde", F.expr("doc_id div b_width"))
        .drop("b_width")
    )
    cum = bucketed_prefix_sum(
        bucketed,
        bucket_col="balde",
        order_cols=("doc_id",),
        val_cols={"fim": "n_tokens"},
    )
    L = CHUNK_TOKENS
    spans = (
        cum.filter(F.col("n_tokens") > 0)
        .withColumn("inicio", F.col("fim") - F.col("n_tokens"))
        .withColumn("c0", F.expr(f"inicio div {L}"))
        .withColumn("c1", F.expr(f"(fim - 1) div {L}"))
    )
    por_chunk = spans.select(
        "doc_id",
        "inicio",
        "fim",
        F.explode(F.sequence("c0", "c1")).alias("chunk_id"),
    ).select(
        "chunk_id",
        "doc_id",
        (
            F.least(F.col("fim"), (F.col("chunk_id") + 1) * L)
            - F.greatest(F.col("inicio"), F.col("chunk_id") * L)
        ).alias("tok_no_chunk"),
        (F.col("inicio") < F.col("chunk_id") * L).cast("long").alias("cruzou"),
    )
    return por_chunk.groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok_no_chunk").alias("n_tokens_chunk"),
        F.min("doc_id").alias("primeiro_doc"),
        F.max("doc_id").alias("ultimo_doc"),
        F.sum("cruzou").alias("n_cruzando"),
    )


# -- deterministic train/val/test split (content-addressed, o5 kin) --

_SPLIT_HEXV = (
    "(instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), {p}, 1)) - 1)"
)
_SPLIT_HEXV_DUCK = (
    "(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {p}, 1)) - 1)"
)
# 256 buckets: 0-239 train (93.75%), 240-247 val (3.125%), rest test
TRAIN_LT, VAL_LT = 240, 248


@register(
    "o6_train_val_test",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, source,
        CAST({_SPLIT_HEXV_DUCK.format(p=1)} * 16
             + {_SPLIT_HEXV_DUCK.format(p=2)} AS BIGINT) AS balde
      FROM documents)
    SELECT doc_id, source, balde,
      CASE WHEN balde < {TRAIN_LT} THEN 'train'
           WHEN balde < {VAL_LT} THEN 'val'
           ELSE 'test' END AS split
    FROM b
    """,
    tags=("O6", "SPLIT", "SAMPLING"),
)
def o6_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed train/val/test assignment: the
    md5-derived bucket (same cross-engine construction as
    `o5_deterministic_sample`) maps every doc to a stable split that
    survives re-runs, corpus growth, and engine swaps — the property
    that prevents eval-set leakage when the corpus is rebuilt. Pure
    per-row expression, no shuffle at all; at 100 TB this is a scan."""
    import pyspark.sql.functions as _F

    d = load(spark, sf_dir, "documents")
    balde = _F.expr(
        f"CAST({_SPLIT_HEXV.format(p=1)} * 16 + {_SPLIT_HEXV.format(p=2)} AS BIGINT)"
    )
    return d.select(
        "doc_id",
        "source",
        balde.alias("balde"),
        F.when(F.col("balde") < TRAIN_LT, "train")
        .when(F.col("balde") < VAL_LT, "val")
        .otherwise("test")
        .alias("split"),
    ).select("doc_id", "source", "balde", "split")


# -- corpus mixture report (grouping-sets rollup over source x lang) --


@register(
    "pipeline_corpus_report",
    oracle=r"""
    WITH tok AS (
      SELECT source, lang,
        CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
          AS n_tokens,
        CAST(n_chars AS BIGINT) AS n_chars
      FROM documents)
    SELECT
      coalesce(source, '__total__') AS source,
      coalesce(lang, '__total__') AS lang,
      count(*) AS n_docs,
      CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      CAST(sum(n_chars) AS BIGINT) AS total_chars,
      CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE)
        / CAST(count(*) AS DOUBLE) AS tokens_por_doc
    FROM tok
    GROUP BY CUBE (source, lang)
    """,
    tags=("PIPELINE", "REPORT", "GROUPING_SETS"),
)
def pipeline_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus composition report a mixture owner reads before
    setting `MIX_WEIGHTS`: doc counts, token and char totals, and
    tokens-per-doc along source, lang, source x lang, and the grand
    total — one CUBE pass (partial+final aggregation; the expand is 4x
    the input rows, all map-side). Integer sums divide to doubles only
    at the end, keeping the oracle hash exact."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        "lang",
        n_tokens("text").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    agg = tok.cube("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )
    return agg.select(
        F.coalesce("source", F.lit("__total__")).alias("source"),
        F.coalesce("lang", F.lit("__total__")).alias("lang"),
        "n_docs",
        "total_tokens",
        "total_chars",
        (
            F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
        ).alias("tokens_por_doc"),
    )


# -- containment dedup (RefinedWeb-style substring containment,
#    shingle-subset form) --


@register(
    "text_containment",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_DUCK} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        md5(array_to_string(t[i:i+{SPAN_W - 1}], ' ')) AS s
      FROM toks, unnest(range(1, len(t) - {SPAN_W - 2})) AS u(i)),
    tam AS (SELECT doc_id, count(*) AS n_spans FROM sh GROUP BY doc_id),
    comum AS (
      SELECT a.doc_id AS id_contido, b.doc_id AS id_contem,
             count(*) AS n_comum
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT c.id_contido, c.id_contem,
           t.n_spans AS n_spans_contido,
           CAST(c.n_comum AS BIGINT) AS n_comum
    FROM comum c JOIN tam t ON t.doc_id = c.id_contido
    WHERE c.n_comum = t.n_spans
    """,
    tags=("TEXT", "DEDUP", "CONTAINMENT"),
)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup (RefinedWeb's substring-dedup class, shingle
    form): doc A is contained in doc B when EVERY one of A's 8-token
    spans also occurs in B — the asymmetric relation exact/Jaccard
    dedup misses (a quote-with-commentary doc is not a near-dup of its
    source, but its source is fully contained in it).

    Plan: the span inventory is the same md5-shingle explode as
    `text_span_dedup`; candidate pairs come from one equi-join on the
    span hash with a per-pair shared-span count (partial+final agg on
    the pair key), then one PK join compares against the contained
    doc's span count. A span shared by k docs contributes k(k-1)
    pair rows — bounded by the corpus's span-sharing structure, the
    same term every shingle-dedup stage here already carries, and AQE
    splits a pathological mega-span. Subset-of-spans is necessary for
    true substring containment (not sufficient at window boundaries) —
    the candidate set a downstream exact verifier consumes."""
    return containment_candidates(load(spark, sf_dir, "documents"))


def containment_candidates(docs: DataFrame) -> DataFrame:
    """Library form of `text_containment` over any (doc_id, text)
    frame — span-subset candidate pairs (id_contido, id_contem,
    n_spans_contido, n_comum). Span-subset containment is transitive
    over docs with full span inventories (A ⊆ B and B ⊆ C implies
    A ⊆ C), which tests/test_training_prep.py property-checks on
    constructed substring chains."""
    sh = word_shingles(docs, SPAN_W, "doc_id").withColumnRenamed("shingle", "s")
    tam = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    a = sh.select(F.col("doc_id").alias("id_contido"), "s")
    b = sh.select(F.col("doc_id").alias("id_contem"), "s")
    comum = (
        a.join(b, "s")
        .filter(F.col("id_contido") != F.col("id_contem"))
        .groupBy("id_contido", "id_contem")
        .agg(F.count(F.lit(1)).alias("n_comum"))
    )
    return (
        comum.join(
            tam.select(
                F.col("doc_id").alias("id_contido"),
                F.col("n_spans").alias("n_spans_contido"),
            ),
            "id_contido",
        )
        .filter(F.col("n_comum") == F.col("n_spans_contido"))
        .select("id_contido", "id_contem", "n_spans_contido", "n_comum")
    )


# -- quality decile bucketing (curriculum / quality-threshold prep) --


@register(
    "text_quality_deciles",
    oracle=r"""
    WITH q AS (
      SELECT doc_id, source,
        CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
          AS n_tokens
      FROM documents)
    SELECT doc_id, source, n_tokens,
      CAST(ntile(10) OVER (
        PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS INTEGER)
        AS decil
    FROM q
    """,
    tags=("TEXT", "QUALITY", "NTILE"),
)
def text_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality deciles (`ntile(10)` over token count with a
    doc_id tie-break): the bucketing a curriculum or quality-threshold
    step consumes ("train on deciles 1-8, hold 9-10 out"). ntile's
    SQL-standard distribution rule is engine-identical given a total
    order, so the oracle is a hash match.

    Scale note: ntile needs its partition's total count — inherently a
    per-source window. Unlike the prefix-sum ops there is no exact
    two-level decomposition (each row's bucket depends on the source's
    global count), so at 100 TB per-source deciles over 10^9-doc
    sources should switch to approx_percentile cutoffs (a13's twin)
    joined back as range predicates; this entry is the exact form and
    documents that swap."""
    d = load(spark, sf_dir, "documents")
    q = d.select(
        "doc_id",
        "source",
        n_tokens("text").alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_tokens").desc(), "doc_id"
    )
    return q.select(
        "doc_id", "source", "n_tokens", F.ntile(10).over(w).alias("decil")
    )


def quality_deciles_approx(d: DataFrame) -> DataFrame:
    """Library form of the 100 TB decile path the exact entry's
    docstring promises: per-source ``percentile_approx`` cutoffs (one
    partial+final agg, fixed sketch state per source) broadcast-joined
    back and applied as range predicates — no per-source global
    window, so a 10^9-doc source costs one aggregation instead of a
    full-partition sort. ``decil_aprox`` = 1 + number of cutoffs
    strictly above the doc's token count (decile 1 = longest docs,
    matching the exact twin's DESC ordering). Production calls this;
    the catalog entry below wraps it with an in-query ±1-decile check
    against the exact ntile."""
    q = d.select(
        "doc_id",
        "source",
        n_tokens("text").alias("n_tokens"),
    )
    qs = ", ".join(str(x / 10.0) for x in range(9, 0, -1))
    cortes = q.groupBy("source").agg(
        F.expr(f"percentile_approx(n_tokens, array({qs}), 10000)").alias(
            "cortes"
        )
    )
    return (
        q.join(F.broadcast(cortes), "source")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            (
                F.lit(1)
                + F.expr(
                    "size(filter(cortes, c -> n_tokens < c))"
                )
            ).cast("int").alias("decil_aprox"),
        )
    )


@register(
    "text_quality_deciles_approx",
    # Self-verifying oracle shape (the a13/a14 approx precedent,
    # r6 VERDICT next #1): percentile_approx cutoffs can't hash-match
    # DuckDB's quantile sketch, and ntile's remainder distribution
    # differs from threshold bucketing by definition — but the
    # CONTRACT ("never off by more than ONE decile from the exact
    # ntile", a tie-boundary effect by construction) is exact. The
    # Spark side joins its approx deciles to its own exact ntile twin
    # and emits the per-doc boolean; the oracle pins the all-TRUE
    # frame on the (already hash-verified) exact ntile row set.
    oracle=r"""
    WITH q AS (
      SELECT doc_id, source,
        CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
          AS n_tokens
      FROM documents)
    SELECT doc_id, source, n_tokens, TRUE AS dentro_1_decil
    FROM q
    """,
    tags=("TEXT", "QUALITY", "APPROX", "SCALE_DEFAULT"),
)
def text_quality_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog/verification form of :func:`quality_deciles_approx`:
    joins the approx threshold deciles to the exact ntile deciles
    (the hash-verified ``text_quality_deciles`` twin) and emits one
    ±1-decile boolean per doc. Production uses the library form —
    computing the exact ntile alongside defeats the approx path's
    purpose; THIS entry exists so the driver's DuckDB oracle can pin
    the approx path's contract exactly."""
    d = load(spark, sf_dir, "documents")
    aprox = quality_deciles_approx(d)
    exato = text_quality_deciles(spark, sf_dir).select("doc_id", "decil")
    return aprox.join(exato, "doc_id").select(
        "doc_id",
        "source",
        "n_tokens",
        (F.abs(F.col("decil") - F.col("decil_aprox")) <= 1).alias(
            "dentro_1_decil"
        ),
    )


# -- deterministic training order (global shuffle without a global sort) --


_SHUFFLE_SEED = "s42:"
_N_ORDER_SHARDS = 16


@register(
    "pipeline_shuffle_order",
    oracle=f"""
    WITH chaves AS (
      SELECT doc_id, md5('{_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS chave
      FROM documents),
    com_shard AS (
      SELECT doc_id, chave,
        CAST(('0x' || substring(chave, 1, 15))::UBIGINT
             % {_N_ORDER_SHARDS} AS INTEGER) AS shard
      FROM chaves)
    SELECT doc_id, chave, shard,
      CAST(row_number() OVER (
        PARTITION BY shard ORDER BY chave, doc_id) AS BIGINT)
        AS ordem_no_shard
    FROM com_shard
    """,
    tags=("PIPELINE", "ORDER", "SHUFFLE"),
)
def pipeline_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order permutation WITHOUT a global
    sort: every doc gets a content-addressed shuffle key
    (md5(seed || doc_id)), a shard (hash mod 16), and its rank WITHIN
    the shard. The training order is (shard, ordem_no_shard) — readers
    consume shards in id order, each internally hash-shuffled.
    Changing the seed literal re-permutes the whole corpus
    reproducibly; the same seed always yields the same order on any
    cluster size (no rand(), no partition-order dependence).

    Scale shape: the only wide operation is a row_number window
    PARTITIONED BY shard — n/16 rows per partition, never a single
    global ordering task (the naive global row_number is exactly the
    plan this avoids). At 100 TB raise the shard count; the layout
    matches write_training_shards so order assignment and physical
    export share one shuffle."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    chave = F.md5(F.concat(F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string")))
    shard = (
        F.conv(F.substring(F.col("chave"), 1, 15), 16, 10)
        .cast("bigint") % _N_ORDER_SHARDS
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("chave", "doc_id")
    return (
        d.withColumn("chave", chave)
        .withColumn("shard", shard)
        .withColumn("ordem_no_shard", F.row_number().over(w).cast("bigint"))
    )


# -- curriculum order: quality phase first, hash-shuffled within phase --


@register(
    "pipeline_curriculum_order",
    oracle=rf"""
    WITH q AS (
      SELECT doc_id, source,
        CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
          AS n_tokens
      FROM documents),
    decis AS (
      SELECT doc_id, source, n_tokens,
        CAST(ntile(10) OVER (
          PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS INTEGER)
          AS decil
      FROM q)
    SELECT doc_id, source, decil,
      md5('{_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS chave,
      CAST(row_number() OVER (
        PARTITION BY decil, source
        ORDER BY md5('{_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)), doc_id)
        AS BIGINT) AS ordem_na_fase
    FROM decis
    """,
    tags=("PIPELINE", "ORDER", "CURRICULUM"),
)
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: docs are staged by per-source quality
    decile (decil 1 = longest docs first, the exact ntile of
    `text_quality_deciles`) and deterministically hash-shuffled WITHIN
    each (decile, source) phase — "train highest-quality-first, random
    within a stage". The consumption order is
    (decil, source, ordem_na_fase).

    Scale shape: one per-source ntile window (see
    text_quality_deciles' documented approx swap for 10^9-doc sources)
    plus a row_number partitioned by (decil, source) — both keyed
    windows, no global sort."""
    d = load(spark, sf_dir, "documents")
    q = d.select(
        "doc_id",
        "source",
        n_tokens("text").alias("n_tokens"),
    )
    wd = Window.partitionBy("source").orderBy(F.col("n_tokens").desc(), "doc_id")
    chave = F.md5(F.concat(F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string")))
    decis = q.withColumn("decil", F.ntile(10).over(wd)).withColumn(
        "chave", chave
    )
    wf = Window.partitionBy("decil", "source").orderBy("chave", "doc_id")
    return decis.select(
        "doc_id",
        "source",
        "decil",
        "chave",
        F.row_number().over(wf).cast("bigint").alias("ordem_na_fase"),
    )


# -- sequence-length distribution (log2 buckets, integer-exact) --


@register(
    "text_length_histogram",
    oracle=r"""
    WITH q AS (
      SELECT CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
          AS n_tokens
      FROM documents)
    SELECT CAST(CASE WHEN n_tokens = 0 THEN 0
                ELSE length(bin(n_tokens)) END AS INTEGER) AS balde,
      CAST(CASE WHEN n_tokens = 0 THEN 0
           ELSE 1 << (length(bin(n_tokens)) - 1) END AS BIGINT) AS lo,
      count(*) AS n_docs,
      CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM q
    GROUP BY 1, 2
    """,
    tags=("TEXT", "HISTOGRAM", "A4"),
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution in power-of-two buckets — the
    histogram a packing/chunking job reads to size CHUNK_TOKENS and
    predict boundary waste. Bucket id is the BIT LENGTH of the token
    count (length of its binary representation: 1-1, 2-3, 4-7, ...),
    computed with string-of-binary length on BOTH engines — integer
    exact, immune to the log2 libm boundary drift a floor(log2(n))
    formulation risks at exact powers of two. One partial+final
    aggregation; scan-bound at any scale."""
    d = load(spark, sf_dir, "documents")
    q = d.select(n_tokens("text").alias("n_tokens"))
    balde = F.when(F.col("n_tokens") == 0, F.lit(0)).otherwise(
        F.length(F.bin(F.col("n_tokens")))
    ).cast("int")
    # BIGINT 1: Spark's shiftleft on an INT literal wraps the shift
    # count mod 32 (negative at bit length >= 32), while DuckDB's
    # 1 << n is 64-bit — cast keeps both engines exact to 2^62.
    lo = F.when(F.col("n_tokens") == 0, F.lit(0)).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), length(bin(n_tokens)) - 1)")
    ).cast("bigint")
    return (
        q.withColumn("balde", balde)
        .withColumn("lo", lo)
        .groupBy("balde", "lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# -- sliding-window chunking with overlap (RAG / long-context prep) --

CHUNK_STRIDE = 384  # window start step; overlap = CHUNK_TOKENS - stride


@register(
    "pipeline_chunk_overlap",
    oracle=rf"""
    WITH q AS (
      SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
           ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
        AS n
      FROM documents),
    spans AS (
      SELECT doc_id, n, CAST(u.i AS BIGINT) AS chunk_idx,
             CAST(u.i * {CHUNK_STRIDE} AS BIGINT) AS inicio,
             CAST(least(u.i * {CHUNK_STRIDE} + {CHUNK_TOKENS}, n) AS BIGINT)
               AS fim
      FROM q, unnest(range(0, (n - 1) // {CHUNK_STRIDE} + 1)) AS u(i)
      WHERE n > 0)
    SELECT doc_id, chunk_idx, inicio, fim,
           fim - inicio AS n_toks,
           (fim = n) AS ultimo
    FROM spans
    WHERE chunk_idx = 0 OR inicio - {CHUNK_STRIDE} + {CHUNK_TOKENS} < n
    """,
    tags=("PIPELINE", "CHUNK", "RAG", "SCALE_DEFAULT"),
)
def pipeline_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document sliding-window chunking with overlap — the RAG
    / long-context layout (windows of CHUNK_TOKENS starting every
    CHUNK_STRIDE tokens, adjacent windows sharing the difference),
    complementing ``pipeline_pack_chunks``' cross-document packing.
    A trailing window fully covered by its predecessor (start -
    stride + size already reaches the end) is dropped, so every
    emitted chunk contributes new tokens and chunk indices stay dense.

    Integer-only arithmetic end to end (starts, ends, counts), so the
    oracle pins it exactly. Scale shape: one narrow projection and one
    explode of ~n/stride spans per doc — embarrassingly parallel, no
    shuffle at all, and the explode factor is bounded by token count /
    stride (the same growth as the data itself)."""
    q = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            n_tokens("text").alias("n"),
        )
        .filter(F.col("n") > 0)
    )
    spans = q.select(
        "doc_id",
        "n",
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                ((F.col("n") - 1) / CHUNK_STRIDE).cast("bigint"),
            )
        ).alias("chunk_idx"),
    ).select(
        "doc_id",
        "n",
        "chunk_idx",
        (F.col("chunk_idx") * CHUNK_STRIDE).alias("inicio"),
        F.least(
            F.col("chunk_idx") * CHUNK_STRIDE + CHUNK_TOKENS, F.col("n")
        ).alias("fim"),
    )
    return spans.filter(
        (F.col("chunk_idx") == 0)
        | (F.col("inicio") - CHUNK_STRIDE + CHUNK_TOKENS < F.col("n"))
    ).select(
        "doc_id",
        "chunk_idx",
        "inicio",
        "fim",
        (F.col("fim") - F.col("inicio")).alias("n_toks"),
        (F.col("fim") == F.col("n")).alias("ultimo"),
    )


# -- temperature mixing: sqrt-upweighting of small sources --


@register(
    "pipeline_data_mix_temperature",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, source,
        CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
          AS n_tokens,
        md5(CAST(doc_id AS VARCHAR)) AS k
      FROM documents),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM tok),
    pesos AS (
      SELECT source,
        greatest(1, CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE)))
                         AS BIGINT)) AS w
      FROM tok GROUP BY source),
    soma_w AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM pesos),
    cum AS (
      SELECT doc_id, source, n_tokens,
        CAST(row_number() OVER
          (PARTITION BY source ORDER BY k, doc_id) AS BIGINT) AS mix_rank,
        CAST(sum(n_tokens) OVER
          (PARTITION BY source ORDER BY k, doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM tok)
    SELECT c.doc_id, c.source, c.n_tokens, c.mix_rank, c.cum_tokens,
      (p.w * (t.total // {MIX_FRACTION_DEN})) // s.sw AS orcamento
    FROM cum c
    JOIN pesos p USING (source), tot t, soma_w s
    WHERE c.cum_tokens <= (p.w * (t.total // {MIX_FRACTION_DEN})) // s.sw
    """,
    tags=("PIPELINE", "MIX", "TEMPERATURE", "SAMPLING", "SCALE_DEFAULT"),
)
def pipeline_data_mix_temperature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-balanced mixture at α = 1/2: per-source weight ∝
    √(source token mass) instead of a hand-pinned table — the
    upweighting of small sources used for multilingual/multi-domain
    balance (XLM-R-style temperature sampling; α = 1 is proportional,
    α → 0 is uniform, √ is the classic middle). Everything after the
    weights is exactly ``pipeline_data_mix``'s machinery: integer
    budgets, deterministic content-hash admission order, bucketed
    prefix sums.

    Determinism: weights are floor(sqrt(tokens_s)) — IEEE sqrt of a
    BIGINT-valued double is correctly rounded, so both engines (and
    the driver-side float computation) derive the SAME integer weight
    table; every subsequent step is integer arithmetic. Scale shape:
    one per-source aggregation (a handful of rows → driver weight
    table) + the verified mix pipeline. Other α via
    :func:`mix_by_token_budget` with caller-derived weights."""
    d = load(spark, sf_dir, "documents")
    return mix_by_token_budget(d, temperature_weights(d), MIX_FRACTION_DEN)


def temperature_weights(docs: DataFrame) -> dict[str, int]:
    """α = 1/2 weight table for any documents-shaped frame:
    ``max(1, floor(sqrt(per-source token mass)))`` with the one token
    count (``normalize/expressions.n_tokens``) — the definition both
    the catalog entry above and the end-to-end pipeline
    (:func:`agrobr_spark.pipelines.prepare_training_corpus`) use, so
    their weight tables cannot drift apart. Cost: one per-source
    aggregation collapsed to a handful of driver rows."""
    import math

    totals = (
        docs.select("source", n_tokens("text").alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("t"))
        .collect()
    )
    return {
        r["source"]: max(1, int(math.floor(math.sqrt(float(r["t"])))))
        for r in totals
    }


# -- DSIR: data selection via importance resampling (Xie et al. 2023) --

DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"

# engine-independent feature hash: md5 of the lowercased token, first
# 6 hex chars -> int, mod B (the simhash md5-family trick applied to
# hashed bag-of-words features)
_DSIR_B_SPARK = (
    "pmod(CAST(conv(substring(md5(termo), 1, 6), 16, 10) AS INT), "
    f"{DSIR_BUCKETS})"
)
_DSIR_B_DUCK = (
    "CAST(('0x' || substring(md5(termo), 1, 6))::UBIGINT "
    f"% {DSIR_BUCKETS} AS INT)"
)


@register(
    "pipeline_dsir_weights",
    oracle=rf"""
    WITH toks AS (
      SELECT d.doc_id, d.alvo, lower(u.tok) AS termo
      FROM (SELECT doc_id, lang = '{DSIR_TARGET_LANG}' AS alvo,
                   string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE length(trim(text)) > 0) d,
           unnest(d.t) AS u(tok)),
    db AS (
      SELECT doc_id, alvo, {_DSIR_B_DUCK} AS balde,
             CAST(count(*) AS BIGINT) AS n
      FROM toks GROUP BY doc_id, alvo, 3),
    modelo AS (
      SELECT balde, CAST(sum(n) AS BIGINT) AS cr,
             CAST(sum(CASE WHEN alvo THEN n ELSE 0 END) AS BIGINT) AS ct
      FROM db GROUP BY balde),
    tot AS (
      SELECT CAST(sum(cr) AS BIGINT) AS r_total,
             CAST(sum(ct) AS BIGINT) AS t_total
      FROM modelo),
    pontos AS (
      SELECT d.doc_id, d.n,
        CAST(round(d.n * (
          log2(CAST(m.ct + 1 AS DOUBLE)
               / (tot.t_total + {DSIR_BUCKETS}))
          - log2(CAST(m.cr + 1 AS DOUBLE)
                 / (tot.r_total + {DSIR_BUCKETS}))), 6)
          AS DECIMAL(18,6)) AS p
      FROM db d JOIN modelo m USING (balde), tot)
    SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
      CAST(sum(p) AS DOUBLE) AS pontuacao_dsir,
      CAST(sum(p) AS DOUBLE) > 0 AS selecionado
    FROM pontos GROUP BY doc_id
    """,
    tags=("PIPELINE", "MIX", "DSIR", "QUALITY", "SCALE_DEFAULT"),
)
def pipeline_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al.
    2023): per-document importance log-ratio between a TARGET-domain
    hashed-unigram model and the RAW-corpus model — the standard way
    to select pretraining data "like" a high-quality target without a
    trained classifier. Target here: ``lang = '{target}'`` documents;
    features: tokens hashed into {b} buckets (md5-based, so both
    engines bucket identically); both models Laplace-smoothed
    (+1 over the bucket count), exactly the paper's bag-of-hashed-
    ngrams estimator with n=1.

    ``pontuacao_dsir`` = Σ_buckets n_doc,b · (log2 p_target(b) −
    log2 p_raw(b)) in bits; ``selecionado`` = score > 0 (reads more
    target-like than raw-like — the deterministic analog of the
    paper's importance resampling, which adds Gumbel noise before the
    top-k cut; the noisy variant is a one-line orderBy swap and
    deliberately NOT the catalog pin).

    Determinism: bucket counts are exact bigints shared by both
    engines; each (doc, bucket) contribution is one double expression
    rounded to 6dp and summed as DECIMAL (order-independent); the
    emitted score is that exact decimal sum cast to double — no final
    float round exists to sit on a tie boundary.

    Scale shape: one explode, one (doc, bucket) aggregation, the
    {b}-row model FOLDED from it (never a second pass over the token
    stream), a broadcast model join, one keyed agg — linear in token
    count, no window, no shuffle wider than the (doc, bucket) count.
    """
    return dsir_scores(load(spark, sf_dir, "documents"))


def dsir_scores(docs: DataFrame) -> DataFrame:
    """Frame-level DSIR scorer: ``(doc_id, n_tokens, pontuacao_dsir,
    selecionado)`` for any documents-shaped frame — the ONE scoring
    definition behind both the catalog entry above and the end-to-end
    pipeline's ``mix="dsir"``
    (:func:`agrobr_spark.pipelines.prepare_training_corpus`), so the
    chain's selection and the oracle-pinned entry cannot drift apart
    (the ``temperature_weights`` single-sourcing pattern, r8 VERDICT
    next #4). Math, determinism, and plan shape as documented on
    ``pipeline_dsir_weights``."""
    from agrobr_spark.store.posting import term_rows

    toks = term_rows(
        docs.withColumn("alvo", F.col("lang") == DSIR_TARGET_LANG),
        "doc_id", "alvo",
    )
    db = toks.groupBy(
        "doc_id", "alvo", F.expr(_DSIR_B_SPARK).alias("balde")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    modelo = db.groupBy("balde").agg(
        F.sum("n").cast("bigint").alias("cr"),
        F.sum(F.when(F.col("alvo"), F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("ct"),
    )
    tot = modelo.groupBy().agg(
        F.sum("cr").cast("bigint").alias("r_total"),
        F.sum("ct").cast("bigint").alias("t_total"),
    )
    p_t = (F.col("ct") + 1).cast("double") / (
        F.col("t_total") + F.lit(DSIR_BUCKETS)
    )
    p_r = (F.col("cr") + 1).cast("double") / (
        F.col("r_total") + F.lit(DSIR_BUCKETS)
    )
    contrib = F.round(
        F.col("n") * (F.log2(p_t) - F.log2(p_r)), 6
    ).cast("decimal(18,6)")
    pontos = (
        db.join(F.broadcast(modelo), "balde")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "n", contrib.alias("p"))
    )
    return pontos.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.sum("p").cast("double").alias("pontuacao_dsir"),
        (F.sum("p").cast("double") > 0).alias("selecionado"),
    )


pipeline_dsir_weights.__doc__ = pipeline_dsir_weights.__doc__.format(
    target=DSIR_TARGET_LANG, b=DSIR_BUCKETS
)


# -- cluster-balanced diversity sampling --------------------------------

CLUSTER_SAMPLE_DEN = 10   # target sample ~ corpus_rows / 10
CLUSTER_SAMPLE_SUB = 8    # sub-blocks for the two-level per-cluster cut


@register(
    "pipeline_cluster_sample",
    oracle=f"""
    WITH cent AS (
      SELECT cid, cv FROM (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv,
               row_number() OVER (ORDER BY vec_id) AS rn,
               count(*) OVER () AS n
        FROM embeddings)
      WHERE rn <= greatest(4, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT))),
    base AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev,
        sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings),
    scored AS (
      SELECT b.vec_id, b.label, c.cid,
        round(list_dot_product(c.cv, b.ev)
              / nullif(sqrt(list_dot_product(c.cv, c.cv)) * b.nrm, 0),
              6) AS cos_cent
      FROM base b CROSS JOIN cent c),
    assigned AS (
      SELECT vec_id, label, cid FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos_cent DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    tot AS (SELECT count(*) AS n FROM embeddings),
    nclust AS (SELECT count(DISTINCT cid) AS nc FROM assigned),
    cota AS (
      SELECT greatest(1, (n // {CLUSTER_SAMPLE_DEN}) // nc) AS q
      FROM tot, nclust),
    ranked AS (
      SELECT vec_id, label, cid,
        CAST(row_number() OVER (
          PARTITION BY cid
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER)
          AS pos_cluster
      FROM assigned)
    SELECT r.vec_id, r.label, r.cid, r.pos_cluster,
           CAST(c.q AS BIGINT) AS cota
    FROM ranked r, cota c
    WHERE r.pos_cluster <= c.q
    """,
    tags=("PIPELINE", "SAMPLING", "DIVERSITY", "EMBEDDING"),
)
def pipeline_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sample: assign every embedding to
    its nearest of ~sqrt(n) centroids, then keep an EQUAL quota of
    rows per cluster (content-hash order, no rand()) — the
    DataComp-style curation move that downweights over-represented
    regions of embedding space instead of sampling them
    proportionally (`o5_deterministic_sample` is uniform,
    `o7_stratified_sample_exact` stratifies on GIVEN columns; here
    the strata are DERIVED from the vectors).

    Quota = max(1, (n / {den}) / n_clusters) over clusters that
    actually have members, so the sample is ~n/{den} rows spread
    evenly across semantic clusters; selection within a cluster is
    md5(vec_id) order — deterministic, re-runnable, and exactly what
    the oracle replicates (the `pipeline_data_mix` convention).

    Plan + 100 TB: one broadcast centroid assignment, two tiny scalar
    aggregates (corpus count, live-cluster count), then the
    per-cluster cut runs TWO-LEVEL to kill cluster skew: a first
    row_number caps each (cluster, xxhash64 sub-block) at the quota —
    so no task ever sorts a giant cluster, each sees ~1/{sub} of it —
    and a second window ranks only the ≤ {sub}·quota survivors per
    cluster. The union of per-sub-block top-q contains the global
    top-q by the same total order, so the two-level result is
    IDENTICAL to the direct window (the oracle uses the direct form;
    the hash-equality proves the equivalence every run). Catalog pin:
    lowest-id centroid stand-in; feed `fit_centroids_kmeans` output
    for the library path exactly as in `cluster_cosine_pairs`."""
    from agrobr_spark.operators.allpairs import assign_to_centroids

    e = load(spark, sf_dir, "embeddings")
    from agrobr_spark.queries.dedup import _embeddings_count

    n = _embeddings_count(spark, sf_dir)
    n_cent = max(4, int(n**0.5))
    base = e.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_vec"),
        F.col("label").alias("_x_label"),
    ).withColumn(
        "_norm",
        F.sqrt(
            F.expr(
                "aggregate(_vec, CAST(0.0 AS DOUBLE),"
                " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
            )
        ),
    )
    cent = (
        base.orderBy("_id")
        .limit(n_cent)
        .select(F.col("_id").alias("_cid"), F.col("_vec").alias("_cv"))
    )
    # the quota aggregate and the two-level cut both consume the
    # assignment — pin the 3-column projection once (the collect()
    # below would otherwise pay the scored assignment twice)
    assigned = (
        assign_to_centroids(base, cent, 6, 1)
        .select(
            F.col("_id").alias("vec_id"),
            F.col("_x_label").alias("label"),
            F.col("_blk").alias("cid"),
        )
        .localCheckpoint(eager=True)
    )
    stats = (
        assigned.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("cid").alias("nc"),
        )
    ).collect()[0]
    quota = max(1, (int(stats["n"]) // CLUSTER_SAMPLE_DEN) // int(stats["nc"]))

    k = F.md5(F.col("vec_id").cast("string"))
    sub = F.pmod(F.xxhash64("vec_id"), F.lit(CLUSTER_SAMPLE_SUB))
    w_local = Window.partitionBy("cid", "_sub").orderBy("_k", "vec_id")
    w_final = Window.partitionBy("cid").orderBy("_k", "vec_id")
    return (
        assigned.withColumn("_k", k)
        .withColumn("_sub", sub)
        .withColumn("_rl", F.row_number().over(w_local))
        .filter(F.col("_rl") <= quota)
        .withColumn("pos_cluster", F.row_number().over(w_final).cast("int"))
        .filter(F.col("pos_cluster") <= quota)
        .select(
            "vec_id",
            "label",
            "cid",
            "pos_cluster",
            F.lit(quota).cast("long").alias("cota"),
        )
    )


pipeline_cluster_sample.__doc__ = pipeline_cluster_sample.__doc__.format(
    den=CLUSTER_SAMPLE_DEN, sub=CLUSTER_SAMPLE_SUB
)


# -- quality-ranked admission under a global token budget ---------------

from agrobr_spark.queries.pipeline_text import _STOP_SQL  # noqa: E402

TOKEN_BUDGET = 10_000  # catalog pin; library callers pass their own


@register(
    "pipeline_token_budget",
    oracle=rf"""
    WITH contagem AS (
      SELECT doc_id, {_TOKS_DUCK.replace(chr(10), ' ')} AS toks,
        CAST(len({_TOKS_DUCK.replace(chr(10), ' ')}) AS BIGINT) AS n_tokens,
        text
      FROM documents),
    q AS (
      SELECT doc_id, n_tokens,
        round(CAST(len(list_filter(toks,
                w -> w IN ({{stops}}))) AS DOUBLE)
              / CAST(greatest(n_tokens, 1) AS DOUBLE), 6) AS qualidade
      FROM contagem),
    ordenado AS (
      SELECT doc_id, qualidade, n_tokens,
        CAST(sum(n_tokens) OVER (ORDER BY qualidade DESC, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS tokens_acumulados
      FROM q)
    SELECT doc_id, qualidade, n_tokens, tokens_acumulados
    FROM ordenado WHERE tokens_acumulados <= {TOKEN_BUDGET}
    """.format(stops=_STOP_SQL),
    tags=("PIPELINE", "BUDGET", "PREFIX_SUM", "SCALE_DEFAULT"),
)
def pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-first corpus selection under a global token budget: rank
    every document by quality (stopword ratio — the same signal
    ``text_quality_score`` emits), admit in (quality DESC, doc_id)
    order while the running token total stays <= {b} — "give the
    trainer the best N tokens", the global companion of
    ``pipeline_data_mix`` (which fills PER-SOURCE budgets in
    content-hash order, deliberately quality-blind).

    Scale shape: the greedy prefix needs a corpus-wide running sum in
    quality order, but NOT a global-order window. Quality is 6dp, so
    ``floor((1 - q) * 1e3)`` is an order-aligned bucket (1001 buckets)
    and the running sum is the two-level bucketed prefix sum
    (operators/prefix.py): per-bucket totals, a 1001-row offset
    window, broadcast back, within-bucket windows — the largest
    single-task window is one quality bucket, ~1/1000 of the corpus,
    and a second bucketing level would shrink that again. The oracle
    runs the naive one-window form; the driver hash-match IS the
    equality proof the prefix-sum contract asks its consumers for.

    Determinism: quality is an exact-integer ratio rounded to 6dp
    (bit-identical across engines); the order key carries doc_id so
    ties cannot reorder; token counts are BIGINTs, so the running sum
    reassociates freely."""
    from agrobr_spark.operators.prefix import bucketed_prefix_sum
    from agrobr_spark.queries.pipeline_text import STOPWORDS

    d = load(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    toks = tokens("text")
    base = d.select(
        "doc_id",
        n_tokens("text").alias("n_tokens"),
        F.round(
            F.size(
                F.filter(toks, lambda w: F.array_contains(stop_arr, w))
            ).cast("double")
            / F.greatest(n_tokens("text"), F.lit(1)).cast("double"),
            6,
        ).alias("qualidade"),
    )
    chaveado = base.select(
        "*",
        (
            F.lit(1_000_000)
            - F.round(F.col("qualidade") * 1e6).cast("bigint")
        ).alias("__ordem"),
    ).withColumn("__balde", (F.col("__ordem") / F.lit(1000)).cast("int"))
    com_soma = bucketed_prefix_sum(
        chaveado,
        bucket_col="__balde",
        order_cols=("__ordem", "doc_id"),
        val_cols={"tokens_acumulados": "n_tokens"},
    )
    return com_soma.filter(
        F.col("tokens_acumulados") <= TOKEN_BUDGET
    ).select(
        "doc_id",
        "qualidade",
        "n_tokens",
        F.col("tokens_acumulados").cast("bigint").alias("tokens_acumulados"),
    )


pipeline_token_budget.__doc__ = pipeline_token_budget.__doc__.format(
    b=TOKEN_BUDGET
)


# -- deterministic shard manifest: the export evidence chain ----------

N_SHARDS = 16
#: 52-bit content hashes (13 md5 hex digits — exact in BIGINT/double)
_SHARD_H_ID = (
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 13), 16, 10)"
    " AS BIGINT)"
)
_SHARD_H_ID_DUCK = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))"
    "::UBIGINT AS BIGINT)"
)
_SHARD_H_TXT = (
    "CAST(conv(substring(md5(text), 1, 13), 16, 10) AS BIGINT)"
)
_SHARD_H_TXT_DUCK = (
    "CAST(('0x' || substring(md5(text), 1, 13))::UBIGINT AS BIGINT)"
)


@register(
    "pipeline_shard_manifest",
    oracle=f"""
    WITH base AS (
      SELECT {_SHARD_H_ID_DUCK} % {N_SHARDS} AS shard,
        doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+'))
             END AS n_tokens,
        {_SHARD_H_TXT_DUCK} AS h_txt
      FROM documents)
    SELECT CAST(shard AS INT) AS shard,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      CAST(CAST(sum(CAST(h_txt AS DECIMAL(38,0))) AS DECIMAL(38,0))
        AS VARCHAR) AS soma_verificacao,
      CAST(min(doc_id) AS BIGINT) AS min_doc,
      CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM base GROUP BY shard
    """,
    tags=("PIPELINE", "EXPORT", "MANIFEST", "EVIDENCE", "SCALE_DEFAULT"),
)
def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard manifest — the evidence chain for a
    training-data EXPORT: every document lands in
    ``md5(doc_id) mod {n}`` (content-addressed, so the layout is
    reproducible from the data alone — no rand(), no partition-order
    dependence), and each shard reports its doc count, token mass,
    an order-free content checksum (sum of 52-bit md5 prefixes of
    the text — exact in DECIMAL(38,0) internally, emitted as its
    exact STRING because pandas/Arrow transports coerce wide decimals
    to float64, a measured precision loss the driver's own compare
    path surfaced), and its id range. A consumer
    re-derives this frame from the delivered shards and diffs it
    against the manifest: any lost, duplicated, or silently-mutated
    document changes a row. `stream_export_shards` writes the
    file-level manifest at export time; this is the queryable twin a
    verification job runs on either side of the transfer.

    Plan: one narrow projection (two md5s + a token count) into one
    {n}-group aggregate — map-side partials, a {n}-row shuffle. The
    checksum is a SUM so it is partition-order-free and mergeable
    (shard manifests of two table halves add), exactly why it is not
    a positional hash. At 100 TB: identical plan, and the shard
    column doubles as the write partition key so the manifest and
    the physical layout cannot drift."""
    base = load(spark, sf_dir, "documents").select(
        F.expr(f"pmod({_SHARD_H_ID}, {N_SHARDS})").cast("int").alias("shard"),
        "doc_id",
        n_tokens("text").alias("n_tokens"),
        F.expr(_SHARD_H_TXT).alias("h_txt"),
    )
    return base.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum(F.col("h_txt").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("soma_verificacao"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
    )
