"""End-to-end corpus preparation (agrobr_spark/pipelines.py): the
one-call chain must conserve accounting across its verified stages."""

from __future__ import annotations

from agrobr_spark.pipelines import prepare_training_corpus
from tests.conftest import SF_SMOKE


def test_prepare_training_corpus_accounting(spark, tmp_path):
    out = str(tmp_path / "corpus")
    s = prepare_training_corpus(spark, SF_SMOKE, out, n_shards=4)

    # every doc got exactly one decision reason
    assert sum(s["decision_reasons"].values()) == 500
    assert "mantido" in s["decision_reasons"]

    total_docs = sum(v["docs"] for v in s["selected_per_source"].values())
    assert 0 < total_docs < 500  # gates + budget genuinely filtered
    # exported rows == selected rows == split-assigned rows
    assert s["shards"]["row_count"] == total_docs
    assert sum(s["per_split"].values()) == total_docs
    assert set(s["shards"]["shards"]) <= {"0", "1", "2", "3"}
    # token accounting flows through to the shard manifest
    toks_manifest = sum(v["tokens"] for v in s["shards"]["shards"].values())
    toks_selected = sum(v["tokens"] for v in s["selected_per_source"].values())
    assert toks_manifest == toks_selected

    # read-back of the export verifies per-shard hashes
    from agrobr_spark.sources.sinks import read_training_shards

    df, _ = read_training_shards(spark, out)
    assert df.count() == total_docs


def test_mix_budget_derived_from_gated_corpus(spark, tmp_path):
    """The mixture budget must be computed over the GATED doc set:
    rejected docs consume no token budget, so each source's budget is
    its weight share of the surviving tokens — not of the raw corpus
    (which would under-fill sources in proportion to their rejection
    rate)."""
    import pyspark.sql.functions as F

    from agrobr_spark.io import load
    from agrobr_spark.normalize.expressions import n_tokens
    from agrobr_spark.queries.pipeline_text import pipeline_keep_set
    from agrobr_spark.queries.training_prep import (
        MIX_FRACTION_DEN,
        MIX_WEIGHTS,
        text_repetition_filter,
        text_span_dedup,
    )

    s = prepare_training_corpus(spark, SF_SMOKE, str(tmp_path / "c"), n_shards=2)

    kept = pipeline_keep_set(spark, SF_SMOKE).filter(F.col("mantido")).select("doc_id")
    rep = text_repetition_filter(spark, SF_SMOKE).filter(~F.col("repetitivo")).select("doc_id")
    span = text_span_dedup(spark, SF_SMOKE).filter(~F.col("duplicado")).select("doc_id")
    gated = kept.join(rep, "doc_id").join(span, "doc_id")
    gated_total = (
        load(spark, SF_SMOKE, "documents")
        .join(gated, "doc_id")
        .select(n_tokens("text").alias("n"))
        .groupBy()
        .agg(F.sum("n").alias("t"))
        .collect()[0]["t"]
    )
    w_sum = sum(MIX_WEIGHTS.values())
    for src, v in s["selected_per_source"].items():
        w = MIX_WEIGHTS.get(src, 1)
        expected = (w * (gated_total // MIX_FRACTION_DEN)) // w_sum
        assert v["budget"] == expected, (src, v["budget"], expected)
        assert v["tokens"] <= v["budget"]


def test_prepare_training_corpus_no_quality_gates(spark, tmp_path):
    s_loose = prepare_training_corpus(
        spark, SF_SMOKE, str(tmp_path / "loose"), n_shards=2,
        apply_quality_gates=False,
    )
    s_tight = prepare_training_corpus(
        spark, SF_SMOKE, str(tmp_path / "tight"), n_shards=2,
        apply_quality_gates=True,
    )
    assert s_loose["shards"]["row_count"] >= s_tight["shards"]["row_count"]


def test_overlap_matrix_fractions_and_canonical_pairs(spark):
    """Overlap fractions are in (0, 1], pairs are a<b canonical, and
    the planted cross-source near-dups give at least one pair real
    overlap mass."""
    from tests.conftest import SF_ORACLE

    from agrobr_spark.queries import catalog as _catalog

    df = _catalog()["corpus_overlap_matrix"].fn(spark, SF_ORACLE)
    rows = df.collect()
    assert rows, "planted dups must produce at least one overlapping pair"
    for r in rows:
        assert r["fonte_a"] < r["fonte_b"]
        assert 0 < r["frac_a"] <= 1 and 0 < r["frac_b"] <= 1
        assert r["n_comum"] <= min(r["n_a"], r["n_b"])


def test_prepare_corpus_temperature_mix_flattens(spark, tmp_path):
    """mix="temperature" derives α=1/2 weights from the gated corpus:
    budgets are floor(sqrt(gated per-source tokens))-proportional, so
    the smallest source's budget share exceeds its token share."""
    import math

    import pyspark.sql.functions as F

    s = prepare_training_corpus(
        spark, SF_SMOKE, str(tmp_path / "t"), n_shards=2, mix="temperature"
    )
    per = s["selected_per_source"]
    assert per, "temperature mix must still select documents"
    budgets = {src: v["budget"] for src, v in per.items()}
    # budgets proportional to sqrt weights: check ratio consistency
    # against independently recomputed gated totals
    from agrobr_spark.io import load
    from agrobr_spark.normalize.expressions import n_tokens
    from agrobr_spark.queries.pipeline_text import pipeline_keep_set
    from agrobr_spark.queries.training_prep import (
        MIX_FRACTION_DEN,
        text_repetition_filter,
        text_span_dedup,
    )

    kept = pipeline_keep_set(spark, SF_SMOKE).filter(F.col("mantido")).select("doc_id")
    rep = text_repetition_filter(spark, SF_SMOKE).filter(~F.col("repetitivo")).select("doc_id")
    span = text_span_dedup(spark, SF_SMOKE).filter(~F.col("duplicado")).select("doc_id")
    gated = (
        load(spark, SF_SMOKE, "documents")
        .join(kept.join(rep, "doc_id").join(span, "doc_id"), "doc_id")
        .select("source", n_tokens("text").alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("t"))
        .collect()
    )
    totals = {r["source"]: r["t"] for r in gated}
    w = {src: max(1, int(math.floor(math.sqrt(float(t))))) for src, t in totals.items()}
    sw = sum(w.values())
    grand = sum(totals.values())
    for src, b in budgets.items():
        assert b == (w[src] * (grand // MIX_FRACTION_DEN)) // sw, src

    with __import__("pytest").raises(ValueError, match="mix rule"):
        prepare_training_corpus(
            spark, SF_SMOKE, str(tmp_path / "bad"), mix="nope"
        )


def test_temperature_weights_parity_with_catalog_entry(spark):
    """ONE tokenizer/weight definition (r7 VERDICT next #7): the
    shared ``temperature_weights`` helper applied to the same fixture
    must reproduce ``pipeline_data_mix_temperature``'s admitted set
    exactly — a drift between the end-to-end chain's weights and the
    catalog entry's would surface here as a row-set difference."""
    from agrobr_spark.io import load
    from agrobr_spark.queries.training_prep import (
        MIX_FRACTION_DEN,
        mix_by_token_budget,
        pipeline_data_mix_temperature,
        temperature_weights,
    )

    d = load(spark, SF_SMOKE, "documents")
    via_helper = mix_by_token_budget(
        d, temperature_weights(d), MIX_FRACTION_DEN
    )
    via_entry = pipeline_data_mix_temperature(spark, SF_SMOKE)
    assert sorted(via_entry.columns) == sorted(via_helper.columns)
    a = {tuple(r) for r in via_helper.select(*sorted(via_helper.columns)).collect()}
    b = {tuple(r) for r in via_entry.select(*sorted(via_entry.columns)).collect()}
    assert a == b


def test_source_divergence_nonneg_and_planted_drift(spark, tmp_path):
    """KL properties on a constructed corpus: divergence is >= 0 for
    every source (Gibbs), ~0 for a source whose vocabulary matches the
    blend, and clearly larger for a planted drifted source that
    over-uses its own jargon."""
    from agrobr_spark.queries import catalog as _catalog

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = []
    did = 0
    for i in range(60):  # two sources speaking the corpus language
        for src in ("web", "wiki"):
            rows.append((did, base, "pt", src, len(base)))
            did += 1
    for i in range(8):  # small drifted source: 80% jargon tokens
        txt = "jargao especializado " * 4 + "alpha beta"
        rows.append((did, txt.strip(), "pt", "forum", len(txt)))
        did += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {
        r["source"]: r
        for r in _catalog()["corpus_source_divergence"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {"web", "wiki", "forum"}
    for r in out.values():
        assert r["kl_bits"] >= 0.0, r
    # matching sources sit near zero; the drifted one is far above
    assert out["web"]["kl_bits"] < 0.3
    assert out["wiki"]["kl_bits"] < 0.3
    assert out["forum"]["kl_bits"] > 3 * max(
        out["web"]["kl_bits"], out["wiki"]["kl_bits"], 0.01
    )


def test_o7_exact_stratified_counts_and_stability(spark, tmp_path):
    """o7 returns EXACTLY min(k, stratum size) docs per language, is
    rerun-identical, and adding one doc displaces at most one sample
    member per stratum (content-addressed rank stability)."""
    import pyspark.sql.functions as F

    from agrobr_spark.queries import catalog as _catalog
    from agrobr_spark.queries.relational import O7_PER_STRATUM

    from tests.conftest import SF_ORACLE

    fn = _catalog()["o7_stratified_sample_exact"].fn
    out = fn(spark, SF_ORACLE)
    per = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    from agrobr_spark.io import load
    pop = {r["lang"]: r["n"] for r in load(spark, SF_ORACLE, "documents")
           .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in per.items():
        assert n == min(O7_PER_STRATUM, pop[lang]), lang
    # rerun-identical
    a = {tuple(r) for r in out.collect()}
    b = {tuple(r) for r in fn(spark, SF_ORACLE).collect()}
    assert a == b

    # growth stability on a small constructed stratum
    rows = [(i, f"texto {i}", "pt", "web", 10) for i in range(150)]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    s1 = {r["doc_id"] for r in fn(spark, str(tmp_path)).collect()}
    rows.append((9999, "texto novo", "pt", "web", 10))
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    s2 = {r["doc_id"] for r in fn(spark, str(tmp_path)).collect()}
    assert len(s1) == len(s2) == O7_PER_STRATUM
    assert len(s1 - s2) <= 1  # at most one member displaced


def test_dsir_scores_target_like_docs_higher(spark, tmp_path):
    """DSIR sanity on a constructed corpus: a held-out document
    written in the target domain's vocabulary must outscore (and be
    selected over) one written in the raw-majority vocabulary, and
    every target-language document must score positive."""
    from agrobr_spark.queries import catalog as _catalog
    from agrobr_spark.queries.training_prep import DSIR_TARGET_LANG

    tgt = "market prices report weekly summary " * 3
    raw = "lorem ipsum dolor sit amet consectetur " * 3
    rows = []
    did = 0
    for _ in range(30):  # target domain speaks 'tgt'
        rows.append((did, tgt.strip(), DSIR_TARGET_LANG, "wiki", 1)); did += 1
    for _ in range(60):  # raw majority speaks 'raw'
        rows.append((did, raw.strip(), "de", "web", 1)); did += 1
    # held-out probes, both tagged with a NON-target lang so only
    # their CONTENT drives the score
    probe_t, probe_r = did, did + 1
    rows.append((probe_t, tgt.strip(), "fr", "web", 1))
    rows.append((probe_r, raw.strip(), "fr", "web", 1))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {
        r["doc_id"]: r
        for r in _catalog()["pipeline_dsir_weights"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert out[probe_t]["pontuacao_dsir"] > out[probe_r]["pontuacao_dsir"]
    assert out[probe_t]["selecionado"] and not out[probe_r]["selecionado"]
    for i in range(30):  # target-language docs read target-like
        assert out[i]["selecionado"], i


def test_dsir_scores_parity_with_catalog_entry(spark):
    """ONE DSIR scoring definition (r8 VERDICT next #4): the shared
    frame-level ``dsir_scores`` helper applied to the same fixture
    must reproduce ``pipeline_dsir_weights`` exactly — the temperature
    single-sourcing pattern applied to the importance path."""
    from agrobr_spark.io import load
    from agrobr_spark.queries.training_prep import (
        dsir_scores,
        pipeline_dsir_weights,
    )

    via_helper = dsir_scores(load(spark, SF_SMOKE, "documents"))
    via_entry = pipeline_dsir_weights(spark, SF_SMOKE)
    assert sorted(via_entry.columns) == sorted(via_helper.columns)
    cols = sorted(via_helper.columns)
    a = {tuple(r) for r in via_helper.select(*cols).collect()}
    b = {tuple(r) for r in via_entry.select(*cols).collect()}
    assert a == b


def test_prepare_corpus_dsir_mix(spark, tmp_path):
    """mix="dsir": the mixture pool is exactly the top-DSIR_KEEP_FRAC
    of the gated docs by importance score, each source's budget
    follows its selected token mass, and the accounting still
    conserves through split assignment and shard export."""
    import pyspark.sql.functions as F

    from agrobr_spark.io import load
    from agrobr_spark.normalize.expressions import n_tokens
    from agrobr_spark.pipelines import DSIR_KEEP_FRAC
    from agrobr_spark.queries.pipeline_text import pipeline_keep_set
    from agrobr_spark.queries.training_prep import (
        MIX_FRACTION_DEN,
        dsir_scores,
        text_repetition_filter,
        text_span_dedup,
    )

    out = str(tmp_path / "corpus_dsir")
    s = prepare_training_corpus(spark, SF_SMOKE, out, n_shards=4, mix="dsir")

    # rebuild the expected pool: top-fraction of gated by DSIR score
    kept = (
        pipeline_keep_set(spark, SF_SMOKE)
        .filter(F.col("mantido"))
        .select("doc_id")
    )
    rep = (
        text_repetition_filter(spark, SF_SMOKE)
        .filter(~F.col("repetitivo"))
        .select("doc_id")
    )
    span = (
        text_span_dedup(spark, SF_SMOKE)
        .filter(~F.col("duplicado"))
        .select("doc_id")
    )
    gated = load(spark, SF_SMOKE, "documents").join(
        kept.join(rep, "doc_id").join(span, "doc_id"), "doc_id"
    )
    k = max(1, int(gated.count() * DSIR_KEEP_FRAC))
    pool = gated.join(
        dsir_scores(gated)
        .orderBy(F.desc("pontuacao_dsir"), "doc_id")
        .limit(k)
        .select("doc_id"),
        "doc_id",
    )
    totals = {
        r["source"]: int(r["t"])
        for r in pool.select("source", n_tokens("text").alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("t"))
        .collect()
    }
    assert totals, "fixture must select at least one doc"

    # budget share == selected-token-mass share of the global fraction
    w = {src: max(1, t) for src, t in totals.items()}
    sw = sum(w.values())
    grand = sum(totals.values())
    for src, v in s["selected_per_source"].items():
        assert v["budget"] == (w[src] * (grand // MIX_FRACTION_DEN)) // sw, src
        assert v["tokens"] <= totals[src]  # mixture never exceeds the pool

    # accounting conserves end to end
    total_docs = sum(v["docs"] for v in s["selected_per_source"].values())
    assert s["shards"]["row_count"] == total_docs
    assert sum(s["per_split"].values()) == total_docs


def test_line_filter_rules(spark, tmp_path):
    """text_line_filter rule semantics on a web-shaped multi-line
    fixture (the sf corpus is single-line and punctuation-free, so
    the catalog oracle only checks the degenerate path): terminal
    punctuation required, >= 3 words required, javascript lines
    dropped, lorem-ipsum/brace pages flagged, cleaned text preserves
    kept-line order."""
    from agrobr_spark.queries import catalog as _catalog

    docs = [
        # kept: both lines pass every rule
        (0, 'A good first sentence.\nAnother fine line here!', "en", "web", 10),
        # line 2 lacks terminal punct; line 3 too short; line 4 javascript
        (1, 'Keep this one line.\nno terminal punct\nShort.\n'
            'This javascript line is dropped.', "en", "web", 10),
        # page-level: lorem ipsum and brace both flag the page
        (2, 'Lorem ipsum dolor sit amet.', "en", "web", 10),
        (3, 'An object { literal } page.', "en", "web", 10),
        # empty-kept edge: '' not NULL
        (4, 'nothing survives here', "en", "web", 10),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(docs, schema).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in
           _catalog()["text_line_filter"].fn(spark, str(tmp_path)).collect()}
    assert out[0]["n_linhas_mantidas"] == 2
    assert out[0]["texto_limpo"] == docs[0][1]
    assert out[0]["pagina_ok"]
    r1 = out[1]
    assert (r1["n_linhas"], r1["n_linhas_mantidas"]) == (4, 1)
    assert r1["texto_limpo"] == "Keep this one line."
    assert r1["n_tokens_limpo"] == 4
    assert not out[2]["pagina_ok"]          # lorem ipsum
    assert not out[3]["pagina_ok"]          # curly brace
    assert out[4]["n_linhas_mantidas"] == 0
    assert out[4]["texto_limpo"] == ""      # '' pinned, never NULL


def test_index_freshness_detects_stale_index(spark, tmp_path):
    """retrieval_index_freshness: after the corpus grows past the
    built index, the report must flip to stale with the exact doc
    lag (the gate an index-answered query path routes on)."""
    from agrobr_spark.queries import catalog as _catalog

    rows = [(i, f"texto numero {i} aqui", "pt", "web", 20)
            for i in range(30)]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    sf = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{sf}/documents.parquet")
    fn = _catalog()["retrieval_index_freshness"].fn
    fresh = fn(spark, sf).collect()[0]
    assert fresh["atualizado"] and fresh["defasagem_docs"] == 0
    # corpus grows. Since r10 the process cache is mtime-keyed (r9
    # ADVICE: a rewritten corpus must not silently serve a stale
    # index), so the rewrite alone would trigger a transparent
    # rebuild — pin the OLD index dir under the new key to represent
    # the real stale scenario: a persisted index store whose corpus
    # moved on without an update_posting_index run.
    from agrobr_spark.io import table_cache_key
    from agrobr_spark.queries.pipeline_text import _BM25_INDEX_CACHE

    old_idx = _BM25_INDEX_CACHE[table_cache_key(sf, "documents")]
    rows += [(1000 + i, f"doc novo {i}", "pt", "web", 10) for i in range(4)]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{sf}/documents.parquet")
    _BM25_INDEX_CACHE.clear()
    _BM25_INDEX_CACHE[table_cache_key(sf, "documents")] = old_idx
    try:
        stale = fn(spark, sf).collect()[0]
    finally:
        _BM25_INDEX_CACHE.clear()
    assert not stale["atualizado"]
    assert stale["defasagem_docs"] == 4
    assert stale["n_docs_indice"] == 30
    # and without the pin, the mtime key rebuilds transparently
    refreshed = fn(spark, sf).collect()[0]
    assert refreshed["atualizado"] and refreshed["defasagem_docs"] == 0
