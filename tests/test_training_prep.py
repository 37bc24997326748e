"""Training-prep operators: bucketed prefix sum ≡ naive window,
repetition/span metrics sanity, mixture budget accounting, and chunk
packing invariants. The cross-engine value checks live in
tests/test_oracle.py like every other catalog entry."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from agrobr_spark.operators.prefix import bucketed_prefix_sum
from agrobr_spark.queries import catalog
from tests.conftest import SF_ORACLE

_CAT = catalog()


def test_bucketed_prefix_sum_equals_naive_window(spark):
    """The two-level plan must be row-identical to the single global
    window it replaces — the equality the module docstring owes."""
    rows = [(i, f"g{i % 3}", (i * 7) % 13 + 1) for i in range(257)]
    df = spark.createDataFrame(rows, "id long, g string, v long").withColumn(
        "balde", F.expr("id div 16")
    )
    got = bucketed_prefix_sum(
        df,
        bucket_col="balde",
        order_cols=("id",),
        val_cols={"cum": "v", "rk": F.lit(1).cast("long")},
        part_cols=("g",),
    )
    w = (
        Window.partitionBy("g")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.select(
        "id",
        F.sum("v").over(w).alias("cum"),
        F.count(F.lit(1)).over(w).alias("rk"),
    )
    diff = (
        got.select("id", "cum", "rk")
        .exceptAll(want)
        .union(want.exceptAll(got.select("id", "cum", "rk")))
    )
    assert diff.count() == 0


def test_bucketed_prefix_sum_no_global_window(spark):
    """No window in the physical plan may sort the full frame in one
    partition: every Sort under a Window must follow a hash partition
    on (group, bucket) — i.e. the plan contains no
    'Window ... Sort ... Exchange SinglePartition' chain."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("v")
    ).withColumn("balde", F.expr("id div 10"))
    got = bucketed_prefix_sum(
        df, bucket_col="balde", order_cols=("id",), val_cols={"cum": "v"}
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    windows = [
        seg for seg in plan.split("Window") if "SinglePartition" in seg.split("Exchange")[0]
    ]
    # the offsets window (one row per bucket) is the only allowed
    # single-partition window; the data-sized window must be hash-keyed
    assert plan.count("Window") >= 2
    assert "hashpartitioning(balde" in plan or "hashpartitioning(g" in plan or (
        "hashpartitioning" in plan
    )


def test_repetition_flags_discriminate(spark):
    df = _CAT["text_repetition_filter"].fn(spark, SF_ORACLE)
    agg = df.agg(
        F.sum(F.col("repetitivo").cast("long")).alias("flagged"),
        F.count(F.lit(1)).alias("n"),
        F.min("dup_token_ratio").alias("lo"),
        F.max("dup_token_ratio").alias("hi"),
    ).first()
    assert 0 < agg["flagged"] < agg["n"], "flag must split the corpus"
    assert 0.0 <= agg["lo"] <= agg["hi"] <= 1.0


def test_span_dedup_first_occurrence_attribution(spark):
    """Every shared span is owned by exactly one doc (its min doc_id),
    so sum(n_first_owned) == number of distinct shared spans."""
    df = _CAT["text_span_dedup"].fn(spark, SF_ORACLE).cache()
    try:
        flagged = df.filter("duplicado").count()
        assert flagged > 0, "fixture's planted near-dups must be flagged"
        owned = df.agg(F.sum("n_first_owned")).first()[0]
        shared_docs = df.filter(F.col("n_shared") > 0).count()
        # owners exist and are fewer than (or equal to) sharing docs
        assert 0 < owned
        assert shared_docs >= flagged
    finally:
        df.unpersist()


def test_data_mix_budget_never_exceeded(spark):
    df = _CAT["pipeline_data_mix"].fn(spark, SF_ORACLE).cache()
    try:
        bad = df.filter(F.col("cum_tokens") > F.col("orcamento")).count()
        assert bad == 0
        # ranks are dense 1..n per source
        per_src = df.groupBy("source").agg(
            F.max("mix_rank").alias("mx"), F.count(F.lit(1)).alias("n")
        )
        assert per_src.filter(F.col("mx") != F.col("n")).count() == 0
        # at least one source actually hit its cap (budget binds)
        n_docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").count()
        assert df.count() < n_docs, "mixture must subsample the corpus"
    finally:
        df.unpersist()


def test_pack_chunks_conservation(spark):
    """Token mass is conserved: sum of per-chunk fills == corpus token
    count; every chunk except the last is exactly full; crossing docs
    are counted consistently."""
    from agrobr_spark.queries.training_prep import CHUNK_TOKENS

    df = _CAT["pipeline_pack_chunks"].fn(spark, SF_ORACLE).cache()
    try:
        total = df.agg(F.sum("n_tokens_chunk")).first()[0]
        toks = _CAT["text_token_count"].fn(spark, SF_ORACLE)
        want = toks.agg(F.sum("n_tokens")).first()[0]
        assert total == want
        last = df.agg(F.max("chunk_id")).first()[0]
        partial = df.filter(
            (F.col("chunk_id") != last)
            & (F.col("n_tokens_chunk") != CHUNK_TOKENS)
        ).count()
        assert partial == 0, "only the final chunk may be short"
        assert df.filter(F.col("n_cruzando") > 1).count() == 0, (
            "at most one doc can cross into a chunk from the left"
        )
    finally:
        df.unpersist()


def test_mix_by_token_budget_custom_weights(spark):
    """Library weights actually steer the mixture: doubling one
    source's weight (denominator fixed by the others) must not shrink
    its admitted token mass, and zero weight excludes a source."""
    import pyspark.sql.functions as F

    from agrobr_spark.io import load
    from agrobr_spark.queries.training_prep import mix_by_token_budget

    docs = load(spark, SF_ORACLE, "documents")
    base = mix_by_token_budget(docs, {"src0": 1, "src1": 1}, 4)
    boosted = mix_by_token_budget(docs, {"src0": 2, "src1": 1}, 4)

    def toks(df, src):
        r = (
            df.filter(F.col("source") == src)
            .agg(F.sum("n_tokens"))
            .first()[0]
        )
        return r or 0

    assert toks(boosted, "src0") >= toks(base, "src0")
    none = mix_by_token_budget(docs, {"src0": 0, "src1": 1}, 4, default_weight=0)
    assert none.filter(F.col("source") != "src1").count() == 0


def test_admission_handles_empty_batch(spark, tmp_path):
    """A daily pipeline hits empty batches; every survivor-index
    admission variant must return an empty decision frame without
    touching the store."""
    import pyspark.sql.functions as F

    from agrobr_spark.io import load
    from agrobr_spark.queries.admission import (
        admit_frame,
        admit_lsh_frame,
        admit_text_frame,
        build_admission_index,
        build_lsh_admission_index,
        build_text_admission_index,
    )
    from agrobr_spark.store.table import ParquetStore

    docs0 = load(spark, SF_ORACLE, "documents").filter(F.col("doc_id") < 0)
    emb0 = load(spark, SF_ORACLE, "embeddings").filter(F.col("vec_id") < 0)

    for name, build, admit, table in (
        ("cent", build_admission_index, admit_frame, "survivors"),
        (
            "text",
            build_text_admission_index,
            lambda spark, docs, emb, d: admit_text_frame(spark, docs, d),
            "text_signatures",
        ),
        ("lsh", build_lsh_admission_index, admit_lsh_frame, "survivors"),
    ):
        d = str(tmp_path / name)
        build(spark, SF_ORACLE, d)
        store = ParquetStore(spark, f"{d}/{table}", ("doc_id",))
        before = store.read().count()
        assert admit(spark, docs0, emb0, d).count() == 0, name
        assert store.read().count() == before, name


def test_containment_is_asymmetric_and_subset(spark):
    """Containment candidates: the contained doc's shared-span count
    equals its span inventory (subset relation), and the relation is
    directional — A-in-B does not imply B-in-A."""
    df = _CAT["text_containment"].fn(spark, SF_ORACLE).cache()
    try:
        assert df.count() > 0, "fixture's planted near-dups must collide"
        bad = df.filter(F.col("n_comum") != F.col("n_spans_contido")).count()
        assert bad == 0
        pares = {
            (r["id_contido"], r["id_contem"]) for r in df.collect()
        }
        assert any((b, a) not in pares for a, b in pares), (
            "at least one containment must be one-directional"
        )
    finally:
        df.unpersist()


def test_quality_deciles_partition_invariants(spark):
    """ntile(10) per source: deciles cover 1..10, sizes within a
    partition differ by at most one, and decil 1 holds the longest
    docs (order by n_tokens desc)."""
    df = _CAT["text_quality_deciles"].fn(spark, SF_ORACLE).cache()
    try:
        rng = df.agg(F.min("decil"), F.max("decil")).first()
        assert rng[0] == 1 and rng[1] == 10
        sizes = (
            df.groupBy("source", "decil").count()
            .groupBy("source")
            .agg((F.max("count") - F.min("count")).alias("spread"))
        )
        assert sizes.filter(F.col("spread") > 1).count() == 0
        # decile 1 min length >= decile 10 max length, per source
        b = (
            df.groupBy("source")
            .agg(
                F.min(F.when(F.col("decil") == 1, F.col("n_tokens"))).alias("d1_min"),
                F.max(F.when(F.col("decil") == 10, F.col("n_tokens"))).alias("d10_max"),
            )
        )
        assert b.filter(F.col("d1_min") < F.col("d10_max")).count() == 0
    finally:
        df.unpersist()


def test_quality_deciles_approx_tracks_exact(spark):
    """The approx decile path must never be off by more than ONE
    decile from the exact ntile — the strong guarantee (the sketch is
    effectively exact at this size, so any residual disagreement is
    definitional: ntile distributes TIED token counts across adjacent
    deciles to equalize bucket sizes, while threshold bucketing puts
    all ties in one bucket — a one-decile boundary effect by
    construction). Agreement fraction is tie-density-dependent:
    measured 0.766 on the fixture (107/500 docs sit one decile later,
    10 one earlier, all on tie runs), floor asserted at 0.7."""
    from agrobr_spark.io import load
    from agrobr_spark.queries.training_prep import quality_deciles_approx

    exact = _CAT["text_quality_deciles"].fn(spark, SF_ORACLE)
    approx = quality_deciles_approx(load(spark, SF_ORACLE, "documents"))
    j = exact.select("doc_id", "decil").join(
        approx.select("doc_id", "decil_aprox"), "doc_id"
    )
    # and the self-verifying catalog entry must be all-TRUE
    cat = _CAT["text_quality_deciles_approx"].fn(spark, SF_ORACLE)
    assert cat.filter(~F.col("dentro_1_decil")).count() == 0
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("decil") == F.col("decil_aprox")).cast("long")
        ).alias("iguais"),
        F.max(F.abs(F.col("decil") - F.col("decil_aprox"))).alias("desvio"),
    ).first()
    assert agg["n"] > 0
    assert agg["desvio"] <= 1, agg
    assert agg["iguais"] / agg["n"] >= 0.7, agg


def test_shuffle_order_is_a_permutation(spark):
    """(shard, ordem_no_shard) must be a bijection over the corpus:
    every doc appears once, ranks are dense 1..|shard| per shard, and
    the induced order is stable across re-evaluation (content-
    addressed, no rand())."""
    df = _CAT["pipeline_shuffle_order"].fn(spark, SF_ORACLE).cache()
    try:
        n = df.count()
        assert df.select("doc_id").distinct().count() == n
        dense = df.groupBy("shard").agg(
            F.count(F.lit(1)).alias("c"),
            F.max("ordem_no_shard").alias("mx"),
            F.min("ordem_no_shard").alias("mn"),
        )
        assert dense.filter(
            (F.col("mx") != F.col("c")) | (F.col("mn") != 1)
        ).count() == 0
        again = _CAT["pipeline_shuffle_order"].fn(spark, SF_ORACLE)
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, again.collect())
        )
    finally:
        df.unpersist()


def test_curriculum_phases_are_dense_and_cover(spark):
    df = _CAT["pipeline_curriculum_order"].fn(spark, SF_ORACLE).cache()
    try:
        total = df.count()
        assert df.select("doc_id").distinct().count() == total
        dense = df.groupBy("decil", "source").agg(
            F.count(F.lit(1)).alias("c"), F.max("ordem_na_fase").alias("mx")
        )
        assert dense.filter(F.col("mx") != F.col("c")).count() == 0
    finally:
        df.unpersist()


def test_length_histogram_partitions_the_corpus(spark):
    from agrobr_spark.io import load as _load

    df = _CAT["text_length_histogram"].fn(spark, SF_ORACLE)
    rows = df.collect()
    n_docs = _load(spark, SF_ORACLE, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        if r["balde"] > 0:
            assert r["lo"] == 1 << (r["balde"] - 1)


def test_containment_transitive_on_substring_chain(spark):
    """Property on constructed docs: A a substring of B, B a substring
    of C — the candidate set must contain (A,B), (B,C) AND the
    transitive (A,C), and never a reverse pair of a strict chain."""
    from agrobr_spark.queries.training_prep import containment_candidates

    words = [f"w{i}" for i in range(40)]
    a_txt = " ".join(words[:16])
    b_txt = " ".join(words[:28])
    c_txt = " ".join(words)
    docs = spark.createDataFrame(
        [(1, a_txt), (2, b_txt), (3, c_txt)], "doc_id long, text string"
    )
    pares = {
        (r["id_contido"], r["id_contem"])
        for r in containment_candidates(docs).collect()
    }
    assert {(1, 2), (2, 3), (1, 3)} <= pares
    assert not ({(2, 1), (3, 2), (3, 1)} & pares)


def test_chunk_overlap_covers_and_overlaps(spark, tmp_path):
    """Sliding-window chunks: dense indices, exact stride/size
    geometry, full coverage of [0, n), correct overlap with the
    previous chunk, and no redundant trailing window."""
    from agrobr_spark.queries.training_prep import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )

    sf = str(tmp_path)
    # docs engineered around the boundaries: shorter than one window,
    # exactly one window, mid-second-window, exact multiple of stride,
    # and one ending inside the zone where the trailing window would
    # be fully covered by its predecessor (must be dropped)
    lengths = [5, CHUNK_TOKENS, CHUNK_TOKENS + 100, 3 * CHUNK_STRIDE,
               CHUNK_STRIDE + CHUNK_TOKENS - 1, 2000]
    rows = [
        (i, " ".join(f"t{j}" for j in range(n)), "en", "srcX", n)
        for i, n in enumerate(lengths)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(sf + "/documents.parquet")

    out = _CAT["pipeline_chunk_overlap"].fn(spark, sf).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(range(len(lengths)))
    for doc_id, n in enumerate(lengths):
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        assert chunks[0]["inicio"] == 0
        assert chunks[-1]["fim"] == n and chunks[-1]["ultimo"]
        for prev, cur in zip(chunks, chunks[1:]):
            assert cur["inicio"] == prev["inicio"] + CHUNK_STRIDE
            assert cur["inicio"] < prev["fim"]  # genuine overlap
            assert cur["fim"] > prev["fim"]  # contributes new tokens
        for c in chunks:
            assert c["n_toks"] == c["fim"] - c["inicio"] <= CHUNK_TOKENS


def test_unigram_surprise_orders_rare_above_common(spark, tmp_path):
    """A doc of one endlessly repeated common token must score LOWER
    surprise than a doc of corpus-unique tokens; scores are positive
    and n_tokens is the real token count."""
    sf = str(tmp_path)
    rows = [
        (0, " ".join(["the"] * 50), "en", "s", 50),
        (1, " ".join(f"unico{j}" for j in range(50)), "en", "s", 50),
        (2, "the " * 25 + " ".join(f"raro{j}" for j in range(25)), "en", "s", 50),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(sf + "/documents.parquet")
    got = {
        r["doc_id"]: r
        for r in _CAT["text_unigram_surprise"].fn(spark, sf).collect()
    }
    assert got[0]["n_tokens"] == 50 and got[1]["n_tokens"] == 50
    assert all(r["surpresa"] > 0 for r in got.values())
    assert got[0]["surpresa"] < got[2]["surpresa"] < got[1]["surpresa"]


def test_perplexity_buckets_are_lang_terciles(spark):
    """CCNet head/middle/tail: per lang the three buckets are within
    one of equal size, and every head doc scores <= every tail doc."""
    df = _CAT["text_perplexity_buckets"].fn(spark, SF_ORACLE).cache()
    try:
        per = {
            (r["lang"], r["balde"]): r["n"]
            for r in df.groupBy("lang", "balde")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        langs = {k[0] for k in per}
        for lang in langs:
            sizes = [per.get((lang, b), 0) for b in ("cabeca", "meio", "cauda")]
            assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        bounds = {
            (r["lang"], r["balde"]): (r["mn"], r["mx"])
            for r in df.groupBy("lang", "balde")
            .agg(F.min("surpresa").alias("mn"), F.max("surpresa").alias("mx"))
            .collect()
        }
        for lang in langs:
            assert bounds[(lang, "cabeca")][1] <= bounds[(lang, "meio")][0] or \
                abs(bounds[(lang, "cabeca")][1] - bounds[(lang, "meio")][0]) < 1e-9
            assert bounds[(lang, "meio")][1] <= bounds[(lang, "cauda")][0] or \
                abs(bounds[(lang, "meio")][1] - bounds[(lang, "cauda")][0]) < 1e-9
    finally:
        df.unpersist()


def test_learn_bpe_merges_end_to_end(spark, tmp_path):
    """The learned merge table (a) picks the most frequent adjacent
    pair first, (b) is in training order — it round-trips through
    load_bpe_merges' validator — and (c) feeding it back into the
    apply chain compresses the corpus it was learned from."""
    from agrobr_spark.queries.pipeline_text import (
        bpe_vocab_token_count,
        learn_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(i, "abab abab cdcd abab") for i in range(20)],
        "doc_id long, text string",
    )
    merges = learn_bpe_merges(docs, n_merges=6)
    assert merges, "corpus has repeats — must learn something"
    assert merges[0] == ("a", "b"), merges  # most frequent pair wins

    # training-order property (the apply chain's exactness
    # precondition): every rule's sides are single characters or
    # outputs of earlier rules. (A file round-trip through
    # load_bpe_merges only applies to space-free vocabularies — GPT-2
    # remaps space to Ġ to make merges.txt space-separable; learned
    # tables over raw text legitimately contain space symbols.)
    known: set[str] = set()
    for a, b in merges:
        for side in (a, b):
            assert len(side) == 1 or side in known, (side, merges)
        known.add(a + b)

    counts = docs.select(
        bpe_vocab_token_count("text", merges).alias("aprendido"),
        bpe_vocab_token_count("text", []).alias("cru"),
    ).collect()
    assert all(r["aprendido"] < r["cru"] for r in counts)


def test_learn_bpe_merges_deterministic(spark):
    """Same corpus → same table, regardless of partitioning."""
    from agrobr_spark.queries.pipeline_text import learn_bpe_merges

    rows = [(i, f"w{i % 7} common tail piece") for i in range(40)]
    one = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    many = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    assert learn_bpe_merges(one, 10) == learn_bpe_merges(many, 10)


def test_temperature_mix_flattens_the_distribution(spark):
    """α=1/2 temperature weights must give small sources a LARGER
    budget share than their token share (and large sources a smaller
    one) — the balancing property the operator exists for — while
    budgets stay within the overall tokens//4 envelope."""
    import pyspark.sql.functions as F2

    from agrobr_spark.io import load
    from agrobr_spark.queries.training_prep import _TOKS

    out = _CAT["pipeline_data_mix_temperature"].fn(spark, SF_ORACLE)
    budgets = {
        r["source"]: r["orcamento"]
        for r in out.select("source", "orcamento").distinct().collect()
    }
    totals = {
        r["source"]: r["t"]
        for r in load(spark, SF_ORACLE, "documents")
        .select("source", F2.expr(f"CAST(size({_TOKS}) AS BIGINT)").alias("n"))
        .groupBy("source")
        .agg(F2.sum("n").alias("t"))
        .collect()
    }
    grand = sum(totals.values())
    assert sum(budgets.values()) <= grand // 4
    # budget share vs token share: smallest source gains, largest loses
    small = min(totals, key=totals.get)
    big = max(totals, key=totals.get)
    bsum = sum(budgets.values())
    if small in budgets and big in budgets:
        assert budgets[small] / bsum > totals[small] / grand
        assert budgets[big] / bsum < totals[big] / grand
