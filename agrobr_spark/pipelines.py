"""End-to-end training-corpus preparation: the one-call composition of
the catalog's verified stages, from raw documents to sharded trainer
input.

Every stage is an independently oracle-verified catalog query (or a
tested sink); this module only WIRES them — no new semantics, so the
correctness story is inherited:

1. admission decision  — ``pipeline_keep_set`` (curto / contaminado /
   duplicado / mantido with reasons);
2. quality gates       — ``text_repetition_filter`` (within-doc) and
   ``text_span_dedup`` (cross-doc span sharing) flags;
3. mixture sampling    — ``pipeline_data_mix`` per-source token
   budgets (or ``pipeline_data_mix_temperature``'s α=1/2 rule via
   ``mix="temperature"``), computed OVER the docs that survived 1-2;
4. split assignment    — ``o6_train_val_test`` content-addressed;
5. sharded export      — ``sources.sinks.write_training_shards`` with
   per-shard manifest accounting.

At 100 TB each stage is a handful of hash-partitioned exchanges (see
the per-operator docstrings and SCALING.md); the composition adds only
PK joins between their outputs. No reference analog — the reference's
pipeline chains are fetch→parse→validate→store (e.g.
/root/reference/agrobr/cepea/api.py); this is the LLM-data extension
surface assembled into the reference's "one call does the whole
chain" shape.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from agrobr_spark.io import load

# mix="dsir": fraction of the gated pool kept by DSIR score (the
# paper's resample-to-size analog; score>0 thresholding is degenerate
# on vocabulary-overlapping corpora)
DSIR_KEEP_FRAC = 0.5


def prepare_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    n_shards: int = 8,
    apply_quality_gates: bool = True,
    mix: str = "weights",
) -> dict:
    """Run the full preparation chain and export shards to
    ``out_dir``. Returns a summary dict: per-reason decision counts,
    selected doc/token totals per source, the shard manifest, and the
    per-split counts of the exported docs.

    ``mix`` picks the domain-reweighting rule: ``"weights"`` uses the
    pinned MIX_WEIGHTS table; ``"temperature"`` derives α=1/2 weights
    from the GATED corpus's per-source token mass (small sources gain
    share — see ``pipeline_data_mix_temperature``); ``"dsir"``
    restricts the pool to DSIR-selected (target-like) gated docs and
    budgets each source by its selected token mass (see
    ``pipeline_dsir_weights``)."""
    from agrobr_spark.normalize.expressions import n_tokens
    from agrobr_spark.queries.pipeline_text import pipeline_keep_set
    from agrobr_spark.queries.training_prep import (
        MIX_FRACTION_DEN,
        MIX_WEIGHTS,
        dsir_scores,
        mix_by_token_budget,
        o6_train_val_test,
        temperature_weights,
        text_repetition_filter,
        text_span_dedup,
    )
    from agrobr_spark.sources.sinks import write_training_shards

    decisions = pipeline_keep_set(spark, sf_dir)
    kept = decisions.filter(F.col("mantido")).select("doc_id")

    reasons = {
        r["motivo"]: r["n"]
        for r in decisions.groupBy("motivo")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    if apply_quality_gates:
        rep_ok = (
            text_repetition_filter(spark, sf_dir)
            .filter(~F.col("repetitivo"))
            .select("doc_id")
        )
        span_ok = (
            text_span_dedup(spark, sf_dir)
            .filter(~F.col("duplicado"))
            .select("doc_id")
        )
        kept = kept.join(rep_ok, "doc_id").join(span_ok, "doc_id")

    # Mixture runs ON the gated doc set (not corpus-wide then
    # intersected): rejected docs must not consume token budget, or
    # every source under-fills in proportion to its rejection rate and
    # the realized mix drifts from MIX_WEIGHTS. The catalog entry
    # ``pipeline_data_mix`` (ungated, oracle-pinned) is unchanged.
    gated_docs = load(spark, sf_dir, "documents").join(kept, "doc_id")
    if mix == "weights":
        weights = MIX_WEIGHTS
    elif mix == "temperature":
        # the shared α=1/2 rule over the gated docs — same canonical
        # tokenizer expression as the catalog's temperature entry
        weights = temperature_weights(gated_docs)
    elif mix == "dsir":
        # DSIR picks WHICH gated docs look most target-like, via the
        # shared frame-level scorer behind the catalog's
        # ``pipeline_dsir_weights`` (one scoring definition, no drift).
        # The paper resamples to a target SIZE, not past a fixed score
        # threshold — a threshold is degenerate when target and raw
        # vocabularies overlap heavily (every log-ratio goes negative
        # under smoothing) — so the pool shrinks to the top
        # DSIR_KEEP_FRAC of gated docs by score (doc_id tie-break;
        # orderBy+limit = TakeOrderedAndProject, no global sort), and
        # each source's budget share follows its selected token mass.
        # The global MIX_FRACTION_DEN budget fraction is unchanged.
        n_pool = gated_docs.count()
        k = max(1, int(n_pool * DSIR_KEEP_FRAC))
        sel = (
            dsir_scores(gated_docs)
            .orderBy(F.desc("pontuacao_dsir"), "doc_id")
            .limit(k)
            .select("doc_id")
        )
        gated_docs = gated_docs.join(sel, "doc_id")
        weights = {
            r["source"]: max(1, int(r["t"]))
            for r in gated_docs.select(
                "source", n_tokens("text").alias("n")
            )
            .groupBy("source")
            .agg(F.sum("n").alias("t"))
            .collect()
        }
    else:
        raise ValueError(f"unknown mix rule {mix!r}")
    mixed = mix_by_token_budget(gated_docs, weights, MIX_FRACTION_DEN)
    per_source = {
        r["source"]: {
            "docs": r["docs"],
            "tokens": r["tokens"],
            "budget": r["budget"],
        }
        for r in mixed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").cast("long").alias("tokens"),
            F.max("orcamento").cast("long").alias("budget"),
        )
        .collect()
    }

    split = o6_train_val_test(spark, sf_dir).select("doc_id", "split")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    final = (
        mixed.select("doc_id", "n_tokens")
        .join(docs, "doc_id")
        .join(split, "doc_id")
    )
    manifest = write_training_shards(
        final,
        out_dir,
        key_col="doc_id",
        n_shards=n_shards,
        token_col="n_tokens",
    )
    per_split = {
        r["split"]: r["n"]
        for r in final.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return {
        "decision_reasons": reasons,
        "selected_per_source": per_source,
        "per_split": per_split,
        "shards": manifest,
    }
