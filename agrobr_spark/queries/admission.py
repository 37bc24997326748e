"""Incremental corpus admission — dedup a NEW batch against a
PERSISTED survivor index instead of recomputing the corpus (r5 VERDICT
top item).

This is the daily operation of a training-data pipeline: yesterday's
corpus has already been admitted and its survivors indexed; today's
batch must be gated (too short / benchmark-contaminated / duplicate)
against that FROZEN state plus itself, and the accepted documents
MERGEd back into the index — full recompute is neither affordable at
100 TB nor semantically right (shipped data cannot be retracted).
Closest reference analog: the incremental accumulate loop
(/root/reference/agrobr/cepea/api.py:119-187 — fetch recent window,
dedup-upsert into the store); the dedup/contamination gates themselves
are the LLM-pipeline extension surface.

Semantics (deliberate, documented choices):

- **First-arrival wins**: survivorship inside a duplicate cluster goes
  to the smallest doc_id (ids are arrival-ordered in the fixtures).
  ``pipeline_keep_set``'s keep-longest rule is a batch-recompute
  luxury — an incremental pipeline cannot retract an already-admitted
  survivor when a longer duplicate arrives later, so the incremental
  contract is min-id and the full-recompute equivalence test uses the
  same rule.
- **Admission is against survivors only**: a batch doc that near-dups
  a REJECTED corpus doc (but no survivor) is admitted. Cosine is not
  transitive; chasing rejected docs' neighborhoods would need the full
  corpus — exactly what an index avoids. The divergence-from-batch
  cases this creates (bridge docs merging two old clusters, dups of
  dropped-only docs) are inherent to no-retraction semantics and are
  demonstrated in tests/test_admission.py.
- **Frozen blocking**: batch vectors are assigned to the CORPUS-FIT
  centroid table read back from the index store — new data never
  reshuffles old blocking, so repeated admissions stay O(|batch|).

Three survivor-index variants (centroid, MinHash text signature, LSH)
run one path: ``_build_survivors`` at build, ``_admit_survivors`` per
batch (contamination gate, min-id losers of the batch's self pairs,
survivor hits of its cross pairs, precedence CASE, pin, MERGE). A
variant supplies only its pair finder ``find(a, b) -> (id_a, id_b)``
(every verified collision, equal ids included), the survivor table
and its payload columns.

Index layout (all under one scratch/store root):

- ``bench_shingles`` (every variant but SemDeDup) — distinct 5-word
  shingle hashes of the benchmark set (docs 0-9), broadcast into the
  contamination gate.
- ``survivors`` (centroid, LSH) — (doc_id, n_chars, embedding), plus
  the frozen block id ``_blk`` for the centroid variant: admitted docs
  with their vectors; PK-MERGE target.
- ``centroids`` (centroid, SemDeDup) — (_cid, _cv): the frozen
  blocking fit.
- ``text_signatures`` (text) — (doc_id, mh0..mh7): admitted docs'
  MinHash signatures; PK-MERGE target.
- ``lsh_meta.json`` (LSH) — the bucket width frozen at build.
- ``sem_seen`` (SemDeDup) — every judged vector, corpus keepers and
  arrivals alike, with its cluster and verdict; PK-MERGE target.

Replay contract (the three survivor variants): cross pairs keep equal
ids, so a replayed batch meets its own survivor rows — every doc the
first pass admitted comes back ``duplicado_corpus`` and the store is
unchanged, which makes the foreachBatch streaming sinks
effectively-exactly-once. Every other verdict repeats, except that a
``duplicado_lote`` doc whose batch winner was admitted now meets that
survivor and comes back ``duplicado_corpus``. SemDeDup has its own
gate and its own replay argument (its section below).

The catalog entries build the index from the corpus split (doc_id
below the 80% id cutoff — both engines derive it from the data), then
admit the remaining 20% against the persisted tables only, then MERGE
the accepted docs back. The DuckDB oracles recompute the identical
decision in one SQL query each (recursive CTEs for both components
fixpoints), so every incremental path is hash-verified.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from agrobr_spark.io import checkpoint_parquet, load, read_parquet
from agrobr_spark.normalize.expressions import tokens
from agrobr_spark.operators.allpairs import _dot, assign_to_centroids
from agrobr_spark.operators.components import connected_components
from agrobr_spark.queries import register
from agrobr_spark.queries.dedup import (
    _COS_THRESHOLD,
    band_keys,
    minhash_cols,
    word_shingles,
)
from agrobr_spark.store.fs import scratch_dir
from agrobr_spark.store.table import ParquetStore

_CUT_FRAC = 0.8
_MIN_TOKENS = 5
_BENCH_DOCS = 10
_CONTAM_HITS = 3
_CONTAM_WORDS = 5  # words per contamination shingle

# (cutoff, corpus embedding count) per fixture dir — two scalar jobs,
# paid once per session like dedup._N_CACHE; mtime-keyed so a
# rewritten fixture dir invalidates (r6 VERDICT nit #2)
_SPLIT_CACHE: dict[tuple, tuple[int, int]] = {}


def _split_params(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    from agrobr_spark.io import table_cache_key

    key = table_cache_key(sf_dir, "documents")
    if key not in _SPLIT_CACHE:
        max_id = (
            load(spark, sf_dir, "documents").agg(F.max("doc_id")).collect()[0][0]
        )
        cut = int(_CUT_FRAC * (int(max_id) + 1))
        n_corp = (
            load(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < cut)
            .count()
        )
        _SPLIT_CACHE[key] = (cut, n_corp)
    return _SPLIT_CACHE[key]


def _vec_base(emb: DataFrame, id_col: str = "vec_id", *keep: str) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("_id"), F.col("embedding").alias("_vec"), *keep
    ).withColumn("_norm", F.sqrt(_dot("_vec", "_vec")))


def _pair_cos(round_to: int = 6):
    c = _dot("va", "vb") / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0))
    return F.round(c, round_to)


# ---- the contamination gate ----


def bench_shingles(sh: DataFrame) -> DataFrame:
    """The benchmark set's distinct shingles (docs below
    ``_BENCH_DOCS`` stand in for the eval suite) from a (doc_id,
    shingle) frame."""
    return sh.filter(F.col("doc_id") < _BENCH_DOCS).select("shingle").distinct()


def contaminated(sh: DataFrame, bench: DataFrame) -> DataFrame:
    """(doc_id, n_comum) for every non-benchmark doc of a (doc_id,
    shingle) frame sharing at least ``_CONTAM_HITS`` distinct shingles
    with the benchmark set. The benchmark side is tiny by
    construction, so it broadcasts and nothing shuffles on the corpus
    side."""
    return (
        sh.filter(F.col("doc_id") >= _BENCH_DOCS)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_comum"))
        .filter(F.col("n_comum") >= _CONTAM_HITS)
    )


def _write_bench(docs: DataFrame, store_dir: str) -> DataFrame:
    """Persist the benchmark shingle set every admission broadcasts."""
    sh = word_shingles(docs, _CONTAM_WORDS, "doc_id")
    return checkpoint_parquet(bench_shingles(sh), f"{store_dir}/bench_shingles")


# ---- the one gate -> decide -> write path ----


def _decisions(
    docs: DataFrame,
    bench: DataFrame,
    duplicado_flags: list[tuple[str, DataFrame]],
) -> DataFrame:
    """Precedence CASE over independent gate flags: curto >
    contaminado > the duplicado flags in order > mantido."""
    hits = contaminated(word_shingles(docs, _CONTAM_WORDS, "doc_id"), bench)
    n = F.size(tokens("text")).alias("n_tokens")
    out = docs.select("doc_id", n).join(
        hits.select("doc_id", F.lit(True).alias("_contaminado")),
        "doc_id",
        "left",
    )
    for name, ids in duplicado_flags:
        out = out.join(
            ids.select("doc_id", F.lit(True).alias(f"_{name}")), "doc_id", "left"
        )
    motivo = F.when(F.col("n_tokens") < _MIN_TOKENS, "curto").when(
        F.coalesce("_contaminado", F.lit(False)), "contaminado"
    )
    for name, _ in duplicado_flags:
        motivo = motivo.when(F.coalesce(f"_{name}", F.lit(False)), name)
    motivo = motivo.otherwise("mantido")
    return out.select("doc_id", motivo.alias("motivo")).withColumn(
        "mantido", F.col("motivo") == "mantido"
    )


def _losers(find, side: DataFrame) -> DataFrame:
    """Min-id survivorship over ``side``'s self pairs (each unordered
    pair once): every component member but its smallest id loses."""
    pairs = find(side, side).filter(F.col("id_a") < F.col("id_b"))
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.filter(F.col("componente") < F.col("id")).select(
        F.col("id").alias("doc_id")
    )


def _kept(dec: DataFrame, payload: list[DataFrame]) -> DataFrame:
    out = dec.filter(F.col("mantido")).select("doc_id")
    for cols in payload:
        out = out.join(cols, "doc_id")
    return out


def _build_survivors(
    store: ParquetStore,
    docs: DataFrame,
    bench: DataFrame,
    find,
    side: DataFrame,
    payload: list[DataFrame],
) -> None:
    """Corpus side: gate the corpus split against itself and write the
    survivors' ``payload`` (doc_id-keyed frames) as the new table."""
    dec = _decisions(docs, bench, [("duplicado", _losers(find, side))])
    store.overwrite(_kept(dec, payload))


def _admit_survivors(
    store: ParquetStore,
    docs_b: DataFrame,
    bench: DataFrame,
    find,
    batch: DataFrame,
    surv: DataFrame,
    payload: list[DataFrame],
) -> DataFrame:
    """Batch side: gate ``docs_b`` against the survivors (cross pairs
    ``find(batch, surv)``) and itself, pin the decision, MERGE the
    admitted docs' ``payload`` into ``store``. Returns (doc_id, motivo
    in curto/contaminado/duplicado_corpus/duplicado_lote/mantido,
    mantido)."""
    dup_corpus = find(batch, surv).select(F.col("id_a").alias("doc_id")).distinct()
    dec = _decisions(
        docs_b,
        bench,
        [
            ("duplicado_corpus", dup_corpus),
            ("duplicado_lote", _losers(find, batch)),
        ],
    )
    # the decision plan reads the store files the MERGE below will
    # rewrite — pin the result before mutating the store
    dec = dec.localCheckpoint(eager=True)
    store.merge_upsert(_kept(dec, payload))
    return dec


def _vector_payload(docs: DataFrame, vecs: DataFrame, *keep: str) -> list:
    return [
        docs.select("doc_id", "n_chars"),
        vecs.select(
            F.col("_id").alias("doc_id"), F.col("_vec").alias("embedding"), *keep
        ),
    ]


# ---- centroid admission: the frozen-blocking variant ----


def _block_pairs(a_side: DataFrame, b_side: DataFrame) -> DataFrame:
    """Pairs in the same frozen block at cosseno >= threshold — the
    same equi-join-on-block-key shape as cluster_cosine_pairs; at
    index scale add the skew sub-splitting from allpairs."""
    a = a_side.select(
        F.col("_id").alias("ida"),
        F.col("_vec").alias("va"),
        F.col("_norm").alias("na"),
        "_blk",
    )
    b = b_side.select(
        F.col("_id").alias("idb"),
        F.col("_vec").alias("vb"),
        F.col("_norm").alias("nb"),
        "_blk",
    )
    return (
        a.join(b, "_blk")
        .filter(_pair_cos() >= _COS_THRESHOLD)
        .select(F.col("ida").alias("id_a"), F.col("idb").alias("id_b"))
    )


def _frozen_centroids(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    cutoff: int | None,
    n_centroids: int | None,
):
    """(cut, corpus vector base, freeze): ``freeze()`` writes the
    corpus split's lowest-id centroids to ``store_dir`` and returns
    them. Lowest-id, not k-means: the frozen fit must be replicable by
    the pure-SQL oracle; swap fit_centroids_kmeans here when blocking
    recall matters more than cross-engine verification."""
    cut, n_corp = _split_params(spark, sf_dir)
    if cutoff is not None:
        cut = int(cutoff)
        n_corp = (
            load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < cut).count()
        )
    k = int(n_centroids) if n_centroids is not None else max(4, int(n_corp**0.5))
    base = _vec_base(
        load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < cut)
    )
    cent = (
        base.orderBy("_id")
        .limit(k)
        .select(F.col("_id").alias("_cid"), F.col("_vec").alias("_cv"))
    )
    return cut, base, lambda: checkpoint_parquet(cent, f"{store_dir}/centroids")


def build_admission_index(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    cutoff: int | None = None,
    n_centroids: int | None = None,
) -> None:
    """Build the survivor/centroid/benchmark index from the corpus
    split (docs below ``cutoff``) and persist it under ``store_dir``.
    In production this ran yesterday; the catalog query runs it so the
    admission path has real on-disk state to read back."""
    from agrobr_spark.session import run_concurrently

    cut, base, freeze = _frozen_centroids(
        spark, sf_dir, store_dir, cutoff, n_centroids
    )
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < cut)

    # the embedding branch (centroid write -> pinned assignment) and
    # the text branch (benchmark-shingle write) are independent until
    # the decision join — overlap them on two threads so the shingle
    # tokenize back-fills the assignment chain's stage tails (guide
    # §2.6; they touch disjoint store paths and different source
    # tables). Measured breakdown r14: the branches are 1.5-2 s and
    # 0.3-0.7 s warm, all real work — this overlap is the one
    # composition-layer lever left after the r13/r14 assignment pins.
    def _embed_branch() -> DataFrame:
        # three consumers (both pair-join sides, the survivor join)
        # would each re-run the scored assignment — pin it once
        return assign_to_centroids(base, freeze()).localCheckpoint(eager=True)

    assigned, bench = run_concurrently(
        spark, _embed_branch, lambda: _write_bench(docs, store_dir)
    )
    _build_survivors(
        ParquetStore(spark, f"{store_dir}/survivors", ("doc_id",)),
        docs,
        bench,
        _block_pairs,
        assigned,
        _vector_payload(docs, assigned, "_blk"),
    )


def admit_batch(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    cutoff: int | None = None,
) -> DataFrame:
    """Admit the batch split (docs at or above the cutoff) against the
    persisted centroid index with ``admit_frame``."""
    cut = int(cutoff) if cutoff is not None else _split_params(spark, sf_dir)[0]
    docs_b = load(spark, sf_dir, "documents").filter(F.col("doc_id") >= cut)
    emb_b = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") >= cut)
    return admit_frame(spark, docs_b, emb_b, store_dir)


def admit_frame(
    spark: SparkSession,
    docs_b: DataFrame,
    emb_b: DataFrame,
    store_dir: str,
) -> DataFrame:
    """Gate arbitrary (documents, embeddings) frames against the
    persisted centroid index — stored benchmark shingles, centroids
    and survivors, never the corpus documents — and MERGE the accepted
    docs (with their vectors and frozen block ids) back."""
    store = ParquetStore(spark, f"{store_dir}/survivors", ("doc_id",))
    cent = read_parquet(spark, f"{store_dir}/centroids")
    # four consumers (corpus-dup probe, both batch pair-join sides,
    # the admitted-rows merge) — pin the batch assignment once
    assigned_b = assign_to_centroids(_vec_base(emb_b), cent).localCheckpoint(
        eager=True
    )
    return _admit_survivors(
        store,
        docs_b,
        read_parquet(spark, f"{store_dir}/bench_shingles"),
        _block_pairs,
        assigned_b,
        _vec_base(store.read(), "doc_id", "_blk"),
        _vector_payload(docs_b, assigned_b, "_blk"),
    )


def _dotp(a: str, b: str) -> str:
    return f"list_dot_product({a}, {b})"


_ADMIT_CTE = f"""
    WITH RECURSIVE
    lim AS (SELECT CAST(floor({_CUT_FRAC} * (max(doc_id) + 1)) AS BIGINT)
                   AS corte FROM documents),
    base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
             sqrt({_dotp("CAST(embedding AS DOUBLE[])", "CAST(embedding AS DOUBLE[])")}) AS nrm
      FROM embeddings),
    corp AS (SELECT b.* FROM base b, lim WHERE b.vec_id < lim.corte),
    nc AS (SELECT count(*) AS n FROM corp),
    cent AS (
      SELECT vec_id AS cid, ev AS cv FROM (
        SELECT vec_id, ev, row_number() OVER (ORDER BY vec_id) AS rn
        FROM corp), nc
      WHERE rn <= greatest(4, CAST(floor(sqrt(CAST(nc.n AS DOUBLE))) AS BIGINT))),
    scored AS (
      SELECT b.vec_id, b.ev, b.nrm, c.cid,
        round({_dotp("c.cv", "b.ev")}
              / nullif(sqrt({_dotp("c.cv", "c.cv")}) * b.nrm, 0), 6) AS cos_cent
      FROM base b CROSS JOIN cent c),
    atrib AS (
      SELECT vec_id, ev, nrm, cid FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos_cent DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    par_c AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM atrib a JOIN atrib b ON a.cid = b.cid AND a.vec_id < b.vec_id, lim
      WHERE b.vec_id < lim.corte
        AND round({_dotp("a.ev", "b.ev")} / nullif(a.nrm * b.nrm, 0), 6)
            >= {_COS_THRESHOLD}),
    arest_c AS (SELECT va AS a, vb AS b FROM par_c
                UNION SELECT vb, va FROM par_c),
    alc_c AS (
      SELECT a AS id, b AS peer FROM arest_c
      UNION
      SELECT r.id, e.b FROM alc_c r JOIN arest_c e ON r.peer = e.a),
    comp_c AS (SELECT id, least(id, min(peer)) AS componente
               FROM alc_c GROUP BY id),
    toks AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
        string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             md5(concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])) AS shingle
      FROM toks, unnest(range(1, len(t) - 3)) AS r(i)
      WHERE len(t) >= 5),
    benchset AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {_BENCH_DOCS}),
    contaminados AS (
      SELECT s.doc_id FROM sh s JOIN benchset b ON s.shingle = b.shingle
      WHERE s.doc_id >= {_BENCH_DOCS}
      GROUP BY s.doc_id HAVING count(*) >= {_CONTAM_HITS}),
    dec_c AS (
      SELECT tk.doc_id,
        CASE WHEN tk.n_tokens < {_MIN_TOKENS} THEN 'curto'
             WHEN tk.doc_id IN (SELECT doc_id FROM contaminados)
               THEN 'contaminado'
             WHEN tk.doc_id IN (SELECT id FROM comp_c WHERE componente < id)
               THEN 'duplicado'
             ELSE 'mantido' END AS motivo
      FROM toks tk, lim WHERE tk.doc_id < lim.corte),
    surv AS (
      SELECT a.vec_id, a.ev, a.nrm, a.cid
      FROM atrib a JOIN dec_c d ON d.doc_id = a.vec_id
      WHERE d.motivo = 'mantido'),
    lote AS (SELECT a.* FROM atrib a, lim WHERE a.vec_id >= lim.corte),
    dup_corpus AS (
      SELECT DISTINCT ba.vec_id AS doc_id
      FROM lote ba JOIN surv s ON s.cid = ba.cid
      WHERE round({_dotp("ba.ev", "s.ev")} / nullif(ba.nrm * s.nrm, 0), 6)
            >= {_COS_THRESHOLD}),
    par_b AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM lote a JOIN lote b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE round({_dotp("a.ev", "b.ev")} / nullif(a.nrm * b.nrm, 0), 6)
            >= {_COS_THRESHOLD}),
    arest_b AS (SELECT va AS a, vb AS b FROM par_b
                UNION SELECT vb, va FROM par_b),
    alc_b AS (
      SELECT a AS id, b AS peer FROM arest_b
      UNION
      SELECT r.id, e.b FROM alc_b r JOIN arest_b e ON r.peer = e.a),
    comp_b AS (SELECT id, least(id, min(peer)) AS componente
               FROM alc_b GROUP BY id),
    dec_b AS (
      SELECT tk.doc_id,
        CASE WHEN tk.n_tokens < {_MIN_TOKENS} THEN 'curto'
             WHEN tk.doc_id IN (SELECT doc_id FROM contaminados)
               THEN 'contaminado'
             WHEN tk.doc_id IN (SELECT doc_id FROM dup_corpus)
               THEN 'duplicado_corpus'
             WHEN tk.doc_id IN (SELECT id FROM comp_b WHERE componente < id)
               THEN 'duplicado_lote'
             ELSE 'mantido' END AS motivo
      FROM toks tk, lim WHERE tk.doc_id >= lim.corte)
"""

_ADMIT_ORACLE = f"""{_ADMIT_CTE}
    SELECT doc_id, motivo, motivo = 'mantido' AS mantido FROM dec_b
"""

# Final survivor-store state after the corpus index build + streamed
# batch admission: corpus survivors ∪ admitted batch docs (only docs
# WITH vectors reach the store — the atrib join encodes that on both
# engines).
_STREAM_ADMIT_ORACLE = f"""{_ADMIT_CTE}
    SELECT m.doc_id, d.n_chars, a.cid AS bloco
    FROM (SELECT doc_id FROM dec_c WHERE motivo = 'mantido'
          UNION ALL
          SELECT doc_id FROM dec_b WHERE motivo = 'mantido') m
    JOIN documents d ON d.doc_id = m.doc_id
    JOIN atrib a ON a.vec_id = m.doc_id
"""


@register(
    "pipeline_admit_batch",
    oracle=_ADMIT_ORACLE,
    tags=("PIPELINE", "ADMISSION", "INCREMENTAL", "E2E", "SCALE_DEFAULT"),
)
def pipeline_admit_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental admission end to end: build the survivor index from
    the corpus split (stand-in for yesterday's persisted state), admit
    the batch split against the PERSISTED tables only, MERGE accepted
    docs back, return the per-doc decision. The oracle recomputes the
    identical decision in pure SQL over corpus ∪ batch, so the whole
    incremental path — frozen centroids, survivor-only dup checks,
    batch-internal components, min-id survivorship — is hash-verified
    end to end."""
    with scratch_dir(spark, "admit_idx_") as store_dir:
        build_admission_index(spark, sf_dir, store_dir)
        dec = admit_batch(spark, sf_dir, store_dir)
        # materialize before the scratch index vanishes
        return dec.localCheckpoint(eager=True)



# ---- text-signature admission: the MinHash-index variant ----
#
# The embedding pipeline above blocks on vectors; this one is the pure
# TEXT path the r5 brief literally named: "anti-join batch
# shingle/minhash signatures against a persisted index table ... MERGE
# accepted docs + their signatures back". The index is ONLY the 8-hash
# MinHash signature per admitted doc (fixed 8×32 chars — ~10⁻³ of the
# text at corpus scale); duplicates are detected by LSH band-key
# collision + signature agreement (matching minhashes >= 4 of 8 ≈
# estimated Jaccard >= 0.5) — no shingle sets are ever stored or
# re-read, which is what makes the index practical at 100 TB.
# Signature-based candidacy is split-independent (each doc's signature
# depends only on its own text), so incremental admission provably
# lands on the same survivor set as a full recompute, modulo the same
# no-retraction divergences the embedding path documents.

_SIG_MATCH_MIN = 4  # of N_HASHES component-wise matches


def _text_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh7) MinHash signatures from 3-word shingles —
    the dedup module's engine-independent md5 family."""
    return word_shingles(docs, 3, "doc_id").groupBy("doc_id").agg(
        *minhash_cols()
    )


def _sig_match_pairs(sigs_a: DataFrame, sigs_b: DataFrame) -> DataFrame:
    """(id_a, id_b) pairs from band-key collision verified by
    signature agreement (>= _SIG_MATCH_MIN matching minhashes)."""
    from agrobr_spark.queries.dedup import N_HASHES

    ba = band_keys(sigs_a).withColumnRenamed("doc_id", "id_a")
    bb = band_keys(sigs_b).withColumnRenamed("doc_id", "id_b")
    cand = ba.join(bb, ["banda", "chave"]).select("id_a", "id_b").distinct()
    sa = sigs_a.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sb = sigs_b.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_agree", agree)
        .filter(F.col("_agree") >= _SIG_MATCH_MIN)
        .select("id_a", "id_b")
    )


def build_text_admission_index(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    cutoff: int | None = None,
) -> None:
    """Corpus-side text admission: persists the survivors'
    SIGNATURES (table ``text_signatures``) and the benchmark shingle
    set."""
    cut = int(cutoff) if cutoff is not None else _split_params(spark, sf_dir)[0]
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < cut)
    sigs = _text_signatures(docs)
    _build_survivors(
        ParquetStore(spark, f"{store_dir}/text_signatures", ("doc_id",)),
        docs,
        _write_bench(docs, store_dir),
        _sig_match_pairs,
        sigs,
        [sigs],
    )


def admit_text_frame(
    spark: SparkSession, docs_b: DataFrame, store_dir: str
) -> DataFrame:
    """Admit a batch of documents against the TEXT index only: the
    batch's own signatures vs the persisted survivor signatures (one
    band-key equi-join + agreement check)."""
    store = ParquetStore(spark, f"{store_dir}/text_signatures", ("doc_id",))
    sigs_b = _text_signatures(docs_b)
    return _admit_survivors(
        store,
        docs_b,
        read_parquet(spark, f"{store_dir}/bench_shingles"),
        _sig_match_pairs,
        sigs_b,
        store.read(),
        [sigs_b],
    )


def _text_admit_oracle() -> str:
    from agrobr_spark.queries.dedup import (
        _MINHASH_SQL_COLS,
        _SHINGLES_SQL,
        N_HASHES,
        lsh_bands,
    )

    band_sql = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS banda,"
        f" md5(concat({', '.join(cols)})) AS chave FROM assin"
        for b, cols in lsh_bands()
    )
    agree = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASHES)
    )
    return f"""
    WITH RECURSIVE
    lim AS (SELECT CAST(floor({_CUT_FRAC} * (max(doc_id) + 1)) AS BIGINT)
                   AS corte FROM documents),
    {_SHINGLES_SQL.strip().rstrip(')')}),
    assin AS (
      SELECT doc_id,
        {_MINHASH_SQL_COLS}
      FROM sh GROUP BY doc_id),
    bandas AS (
{band_sql}),
    colisao AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bandas a JOIN bandas b
        ON a.banda = b.banda AND a.chave = b.chave
       AND a.doc_id < b.doc_id),
    par AS (
      SELECT c.id_a, c.id_b
      FROM colisao c
      JOIN assin sa ON sa.doc_id = c.id_a
      JOIN assin sb ON sb.doc_id = c.id_b
      WHERE {agree} >= {_SIG_MATCH_MIN}),
    par_c AS (SELECT p.id_a, p.id_b FROM par p, lim
              WHERE p.id_b < lim.corte),
    arest_c AS (SELECT id_a AS a, id_b AS b FROM par_c
                UNION SELECT id_b, id_a FROM par_c),
    alc_c AS (
      SELECT a AS id, b AS peer FROM arest_c
      UNION
      SELECT r.id, e.b FROM alc_c r JOIN arest_c e ON r.peer = e.a),
    comp_c AS (SELECT id, least(id, min(peer)) AS componente
               FROM alc_c GROUP BY id),
    toks5 AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
        string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    sh5 AS (
      SELECT DISTINCT doc_id,
             md5(concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])) AS shingle
      FROM toks5, unnest(range(1, len(t) - 3)) AS r(i)
      WHERE len(t) >= 5),
    benchset AS (SELECT DISTINCT shingle FROM sh5 WHERE doc_id < {_BENCH_DOCS}),
    contaminados AS (
      SELECT s.doc_id FROM sh5 s JOIN benchset b ON s.shingle = b.shingle
      WHERE s.doc_id >= {_BENCH_DOCS}
      GROUP BY s.doc_id HAVING count(*) >= {_CONTAM_HITS}),
    dec_c AS (
      SELECT tk.doc_id,
        CASE WHEN tk.n_tokens < {_MIN_TOKENS} THEN 'curto'
             WHEN tk.doc_id IN (SELECT doc_id FROM contaminados)
               THEN 'contaminado'
             WHEN tk.doc_id IN (SELECT id FROM comp_c WHERE componente < id)
               THEN 'duplicado'
             ELSE 'mantido' END AS motivo
      FROM toks5 tk, lim WHERE tk.doc_id < lim.corte),
    surv AS (SELECT doc_id FROM dec_c WHERE motivo = 'mantido'),
    dup_corpus AS (
      SELECT DISTINCT p.id_b AS doc_id FROM par p, lim
      WHERE p.id_a IN (SELECT doc_id FROM surv) AND p.id_b >= lim.corte),
    par_b AS (SELECT p.id_a, p.id_b FROM par p, lim
              WHERE p.id_a >= lim.corte),
    arest_b AS (SELECT id_a AS a, id_b AS b FROM par_b
                UNION SELECT id_b, id_a FROM par_b),
    alc_b AS (
      SELECT a AS id, b AS peer FROM arest_b
      UNION
      SELECT r.id, e.b FROM alc_b r JOIN arest_b e ON r.peer = e.a),
    comp_b AS (SELECT id, least(id, min(peer)) AS componente
               FROM alc_b GROUP BY id)
    SELECT tk.doc_id,
      CASE WHEN tk.n_tokens < {_MIN_TOKENS} THEN 'curto'
           WHEN tk.doc_id IN (SELECT doc_id FROM contaminados)
             THEN 'contaminado'
           WHEN tk.doc_id IN (SELECT doc_id FROM dup_corpus)
             THEN 'duplicado_corpus'
           WHEN tk.doc_id IN (SELECT id FROM comp_b WHERE componente < id)
             THEN 'duplicado_lote'
           ELSE 'mantido' END AS motivo,
      CASE WHEN tk.n_tokens >= {_MIN_TOKENS}
            AND tk.doc_id NOT IN (SELECT doc_id FROM contaminados)
            AND tk.doc_id NOT IN (SELECT doc_id FROM dup_corpus)
            AND tk.doc_id NOT IN (SELECT id FROM comp_b WHERE componente < id)
           THEN TRUE ELSE FALSE END AS mantido
    FROM toks5 tk, lim WHERE tk.doc_id >= lim.corte
"""


@register(
    "pipeline_admit_text",
    oracle=_text_admit_oracle(),
    tags=("PIPELINE", "ADMISSION", "INCREMENTAL", "MINHASH", "SCALE_DEFAULT"),
)
def pipeline_admit_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental TEXT admission end to end — the signature-index
    variant: the persisted state is nothing but 8 minhashes per
    admitted doc, the batch anti-joins its own signatures against that
    index on LSH band keys, and accepted docs' signatures MERGE back.
    Because signatures depend only on each doc's own text, candidate
    pairs are split-independent and incremental admission provably
    matches full recompute under min-id survivorship
    (tests/test_admission.py::test_text_incremental_equals_full).
    Complementary to pipeline_admit_batch's embedding gates — a real
    pipeline runs the cheap text pass first, the vector pass on what
    survives."""
    with scratch_dir(spark, "admit_txt_") as store_dir:
        build_text_admission_index(spark, sf_dir, store_dir)
        cut = _split_params(spark, sf_dir)[0]
        docs_b = load(spark, sf_dir, "documents").filter(
            F.col("doc_id") >= cut
        )
        dec = admit_text_frame(spark, docs_b, store_dir)
        return dec.localCheckpoint(eager=True)



# ---- LSH-embedding admission: the fit-free variant ----
#
# The centroid pipeline above must FREEZE a blocking fit (yesterday's
# centroids) to keep admissions O(|batch|); the MinHash pipeline
# stores signatures. This variant removes the fitted state entirely:
# blocking is the multi-table random-hyperplane bucketing of
# queries/similarity.py (md5-derived constants baked into the plan),
# which is data-INDEPENDENT — a vector's buckets never change as the
# corpus grows, batch assignment is a pure projection, and the index
# stores ONLY survivor vectors. Candidate pairs are bucket collisions
# at Hamming distance <= 1 in any table (measured: catches 14/14 of
# the fixture's threshold pairs; radius/tables/planes are the recall
# dials), verified by exact cosine. Because the blocking depends only
# on each vector alone, incremental admission lands on the same
# survivor set as a full recompute with the same blocking — exactly
# (modulo the documented no-retraction divergences), which
# tests/test_admission.py asserts.

def _lsh_buckets(base: DataFrame, n_planes: int) -> DataFrame:
    """(_id, _vec, _norm) -> one row per hash table with its bucket."""
    from agrobr_spark.queries.similarity import N_TABLES, _rp_bucket_spark

    return base.select(
        "_id",
        "_vec",
        "_norm",
        F.posexplode(
            F.array(
                *[
                    F.expr(_rp_bucket_spark(t, "_vec", n_planes))
                    for t in range(N_TABLES)
                ]
            )
        ).alias("tabela", "balde"),
    )


def _lsh_probes(base: DataFrame, n_planes: int) -> DataFrame:
    """Bucket rows widened to the Hamming-<=1 probe set per table."""
    probe_arr = (
        "array(balde, "
        + ", ".join(f"balde ^ {1 << j}" for j in range(int(n_planes)))
        + ")"
    )
    return _lsh_buckets(base, n_planes).select(
        "_id", "tabela", F.explode(F.expr(probe_arr)).alias("sonda")
    )


def _lsh_pairs(a_side: DataFrame, b_side: DataFrame, n_planes: int) -> DataFrame:
    """(id_a, id_b) pairs: probe rows of ``a_side`` meet bucket rows of
    ``b_side`` on (tabela, key), and the distinct candidates are
    verified by exact cosine.

    ``n_planes`` is the index's frozen bucket width (see
    ``lsh_planes_for``): both sides MUST hash with the width the index
    was built at or collisions are missed — which is why the width is
    persisted as index metadata, not recomputed per batch."""
    p = _lsh_probes(a_side, n_planes).select(
        F.col("_id").alias("ida"), "tabela", "sonda"
    )
    b = _lsh_buckets(b_side, n_planes).select(
        F.col("_id").alias("idb"), "tabela", "balde"
    )
    cand = (
        p.join(b, (p["tabela"] == b["tabela"]) & (p["sonda"] == b["balde"]))
        .select("ida", "idb")
        .distinct()
    )
    va = a_side.select(
        F.col("_id").alias("ida"),
        F.col("_vec").alias("va"),
        F.col("_norm").alias("na"),
    )
    vb = b_side.select(
        F.col("_id").alias("idb"),
        F.col("_vec").alias("vb"),
        F.col("_norm").alias("nb"),
    )
    return (
        cand.join(va, "ida")
        .join(vb, "idb")
        .filter(_pair_cos() >= _COS_THRESHOLD)
        .select(F.col("ida").alias("id_a"), F.col("idb").alias("id_b"))
    )


def build_lsh_admission_index(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    cutoff: int | None = None,
) -> None:
    """Corpus-side build with LSH pair blocking and NO fitted state —
    the index is the survivor table (doc_id, n_chars, embedding), the
    benchmark shingles and the frozen bucket width."""
    import functools
    import json

    from agrobr_spark.queries.similarity import lsh_planes_for
    from agrobr_spark.store.fs import write_text

    cut = int(cutoff) if cutoff is not None else _split_params(spark, sf_dir)[0]
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < cut)
    base = _vec_base(load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < cut))

    # freeze the bucket width at build time from the corpus size and
    # persist it with the index: every later batch must hash with the
    # SAME width (the blocking is width-dependent), and the width must
    # grow with the corpus or candidate pairs grow quadratically (the
    # 5x-probe regression this rule fixed: 5.9x wall at 5x data with
    # p pinned at 6)
    n_planes = lsh_planes_for(base.count())
    write_text(
        spark, f"{store_dir}/lsh_meta.json", json.dumps({"n_planes": n_planes})
    )
    _build_survivors(
        ParquetStore(spark, f"{store_dir}/survivors", ("doc_id",)),
        docs,
        _write_bench(docs, store_dir),
        functools.partial(_lsh_pairs, n_planes=n_planes),
        base,
        _vector_payload(docs, base),
    )


#: survivors may exceed the frozen width's design load
#: (TARGET_BUCKET * 2^p) by this factor before admit warns
LSH_REBUILD_HEADROOM = 4


def _lsh_occupancy_check(n_surv: int, n_planes: int) -> None:
    """Occupancy guard for the frozen-width LSH index: the width p was
    sized for the BUILD-time corpus, but merge_upsert grows the
    survivor store every admit call — at fixed p the per-batch
    candidate count grows linearly with survivor count (the same
    bucket-occupancy blowup class the adaptive rule fixed at build
    time, returning over the index's lifetime). Policy: once survivors
    exceed TARGET_BUCKET * 2^p * LSH_REBUILD_HEADROOM, emit a
    RuntimeWarning telling the operator to rebuild (re-running
    build_lsh_admission_index re-derives p from the current corpus)."""
    from agrobr_spark.queries.similarity import TARGET_BUCKET

    design_load = TARGET_BUCKET * (1 << n_planes)
    if n_surv > design_load * LSH_REBUILD_HEADROOM:
        import warnings

        warnings.warn(
            f"admit_lsh_frame: survivor store holds {n_surv} vectors but "
            f"the frozen LSH width p={n_planes} was sized for "
            f"~{design_load} (headroom {LSH_REBUILD_HEADROOM}x exceeded); "
            "per-batch candidate cost is now growing linearly with the "
            "store — rebuild the index with build_lsh_admission_index "
            "to re-derive the width",
            RuntimeWarning,
            stacklevel=3,
        )


def admit_lsh_frame(
    spark: SparkSession,
    docs_b: DataFrame,
    emb_b: DataFrame,
    store_dir: str,
) -> DataFrame:
    """Gate a batch against the persisted survivor vectors only.
    Survivor buckets are recomputed by pure projection at read time
    (cheap expressions; at 100 TB persist the survivor table bucketed
    by (tabela, balde) instead and the probe join partition-prunes).
    The width comes from ``lsh_meta.json``; ``_lsh_occupancy_check``
    warns once the store outgrows it."""
    import functools
    import json

    from agrobr_spark.store.fs import read_text

    store = ParquetStore(spark, f"{store_dir}/survivors", ("doc_id",))
    surv = store.read()
    meta = read_text(spark, f"{store_dir}/lsh_meta.json")
    if meta is None:
        raise ValueError(
            f"admit_lsh_frame: {store_dir}/lsh_meta.json missing — the "
            "index must be built by build_lsh_admission_index, which "
            "freezes the LSH bucket width"
        )
    n_planes = int(json.loads(meta)["n_planes"])
    _lsh_occupancy_check(surv.count(), n_planes)

    base_b = _vec_base(emb_b)
    return _admit_survivors(
        store,
        docs_b,
        read_parquet(spark, f"{store_dir}/bench_shingles"),
        functools.partial(_lsh_pairs, n_planes=n_planes),
        base_b,
        _vec_base(surv, "doc_id"),
        _vector_payload(docs_b, base_b),
    )


def _lsh_oracle(final_select: str | None = None) -> str:
    """The full one-shot LSH admission in DuckDB SQL. ``final_select``
    swaps the tail projection: default = the batch decision frame
    (pipeline_admit_lsh's oracle); the survivor-set form below is the
    streaming variant's oracle (corpus mantido ∪ batch mantido, both
    vector-bearing — the exact content of the post-stream survivor
    store)."""
    from agrobr_spark.queries.similarity import (
        MAX_PLANES,
        N_TABLES,
        _rp_bucket_duck,
        lsh_planes_case_duck,
    )

    # a p-plane bucket is the low-p-bit mask of the MAX_PLANES-bit
    # bucket (same hyperplane family), so the width can be a runtime
    # scalar here even though the plane constants are baked into the
    # query text; pl replicates lsh_planes_for over the corpus count
    mask = "((1::BIGINT << pl.p) - 1)"
    baldes = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tabela,"
        f" ({_rp_bucket_duck(t, 'ev', MAX_PLANES)} & {mask}) AS balde"
        " FROM base, pl"
        for t in range(N_TABLES)
    )
    probe_list = "[b, " + ", ".join(
        f"xor(b, {1 << j})" for j in range(MAX_PLANES)
    ) + "]"
    sondas = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tabela,"
        f" unnest(list_slice({probe_list}, 1, p + 1)) AS sonda"
        f" FROM (SELECT vec_id,"
        f" ({_rp_bucket_duck(t, 'ev', MAX_PLANES)} & {mask}) AS b,"
        f" pl.p AS p FROM base, pl)"
        for t in range(N_TABLES)
    )
    return f"""
    WITH RECURSIVE
    lim AS (SELECT CAST(floor({_CUT_FRAC} * (max(doc_id) + 1)) AS BIGINT)
                   AS corte FROM documents),
    base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
             sqrt({_dotp("CAST(embedding AS DOUBLE[])", "CAST(embedding AS DOUBLE[])")}) AS nrm
      FROM embeddings),
    pl AS (
      SELECT {lsh_planes_case_duck("n")} AS p
      FROM (SELECT count(*) AS n FROM base, lim
            WHERE base.vec_id < lim.corte)),
    baldes AS ({baldes}),
    sondas AS ({sondas}),
    cand AS (
      SELECT DISTINCT p.vec_id AS va, q.vec_id AS vb
      FROM sondas p JOIN baldes q
        ON q.tabela = p.tabela AND q.balde = p.sonda),
    par_all AS (
      SELECT c.va, c.vb FROM cand c
      JOIN base a ON a.vec_id = c.va
      JOIN base b ON b.vec_id = c.vb
      WHERE round({_dotp("a.ev", "b.ev")} / nullif(a.nrm * b.nrm, 0), 6)
            >= {_COS_THRESHOLD}),
    par_c AS (
      SELECT p.va, p.vb FROM par_all p, lim
      WHERE p.va < p.vb AND p.vb < lim.corte),
    arest_c AS (SELECT va AS a, vb AS b FROM par_c
                UNION SELECT vb, va FROM par_c),
    alc_c AS (
      SELECT a AS id, b AS peer FROM arest_c
      UNION
      SELECT r.id, e.b FROM alc_c r JOIN arest_c e ON r.peer = e.a),
    comp_c AS (SELECT id, least(id, min(peer)) AS componente
               FROM alc_c GROUP BY id),
    toks AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
        string_split_regex(trim(text), '\\s+') AS t
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             md5(concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])) AS shingle
      FROM toks, unnest(range(1, len(t) - 3)) AS r(i)
      WHERE len(t) >= 5),
    benchset AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {_BENCH_DOCS}),
    contaminados AS (
      SELECT s.doc_id FROM sh s JOIN benchset b ON s.shingle = b.shingle
      WHERE s.doc_id >= {_BENCH_DOCS}
      GROUP BY s.doc_id HAVING count(*) >= {_CONTAM_HITS}),
    dec_c AS (
      SELECT tk.doc_id,
        CASE WHEN tk.n_tokens < {_MIN_TOKENS} THEN 'curto'
             WHEN tk.doc_id IN (SELECT doc_id FROM contaminados)
               THEN 'contaminado'
             WHEN tk.doc_id IN (SELECT id FROM comp_c WHERE componente < id)
               THEN 'duplicado'
             ELSE 'mantido' END AS motivo
      FROM toks tk, lim WHERE tk.doc_id < lim.corte),
    surv_ids AS (
      SELECT d.doc_id FROM dec_c d
      JOIN base v ON v.vec_id = d.doc_id
      WHERE d.motivo = 'mantido'),
    dup_corpus AS (
      SELECT DISTINCT p.va AS doc_id
      FROM (SELECT va, vb FROM par_all
            UNION SELECT vec_id, vec_id FROM base) p
      JOIN surv_ids s ON s.doc_id = p.vb, lim
      WHERE p.va >= lim.corte
      UNION
      SELECT DISTINCT p.vb AS doc_id
      FROM par_all p JOIN surv_ids s ON s.doc_id = p.va, lim
      WHERE p.vb >= lim.corte),
    par_b AS (
      SELECT p.va, p.vb FROM par_all p, lim
      WHERE p.va < p.vb AND p.va >= lim.corte),
    arest_b AS (SELECT va AS a, vb AS b FROM par_b
                UNION SELECT vb, va FROM par_b),
    alc_b AS (
      SELECT a AS id, b AS peer FROM arest_b
      UNION
      SELECT r.id, e.b FROM alc_b r JOIN arest_b e ON r.peer = e.a),
    comp_b AS (SELECT id, least(id, min(peer)) AS componente
               FROM alc_b GROUP BY id),
    dec_b AS (
      SELECT tk.doc_id,
        CASE WHEN tk.n_tokens < {_MIN_TOKENS} THEN 'curto'
             WHEN tk.doc_id IN (SELECT doc_id FROM contaminados)
               THEN 'contaminado'
             WHEN tk.doc_id IN (SELECT doc_id FROM dup_corpus)
               THEN 'duplicado_corpus'
             WHEN tk.doc_id IN (SELECT id FROM comp_b WHERE componente < id)
               THEN 'duplicado_lote'
             ELSE 'mantido' END AS motivo
      FROM toks tk, lim WHERE tk.doc_id >= lim.corte)
    {final_select or "SELECT doc_id, motivo, motivo = 'mantido' AS mantido FROM dec_b"}
    """


_LSH_SURVIVOR_SELECT = """
    SELECT m.doc_id, d.n_chars
    FROM (SELECT doc_id FROM dec_c WHERE motivo = 'mantido'
          UNION ALL
          SELECT doc_id FROM dec_b WHERE motivo = 'mantido') m
    JOIN documents d ON d.doc_id = m.doc_id
    JOIN base v ON v.vec_id = m.doc_id
"""


@register(
    "pipeline_admit_lsh",
    oracle=_lsh_oracle(),
    tags=("PIPELINE", "ADMISSION", "INCREMENTAL", "LSH", "SCALE_DEFAULT"),
)
def pipeline_admit_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-free incremental admission end to end: build the survivor
    index from the corpus split with LSH pair blocking, admit the
    batch split against the persisted survivor VECTORS only (buckets
    recomputed by projection — there is no fitted state to freeze),
    MERGE accepted docs back, return the per-doc decision. The oracle
    recomputes the identical decision in pure SQL (recursive CTEs for
    both components fixpoints, the same hyperplane constants baked
    into the query text)."""
    with scratch_dir(spark, "admit_lsh_") as store_dir:
        build_lsh_admission_index(spark, sf_dir, store_dir)
        cut = _split_params(spark, sf_dir)[0]
        docs_b = load(spark, sf_dir, "documents").filter(F.col("doc_id") >= cut)
        emb_b = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") >= cut)
        dec = admit_lsh_frame(spark, docs_b, emb_b, store_dir)
        return dec.localCheckpoint(eager=True)



# -- SemDeDup incremental admission (r8 VERDICT next #3) ------------
#
# The streamed twin of queries/dedup.dedup_semdedup: corpus keepers
# are fixed once by the PAPER rule (lowest centroid-similarity member
# of a duplicate neighborhood survives — Abbas et al. 2023), then new
# arrivals are gated against the frozen state. Incremental semantics
# (deliberate, mirroring the module-head contract):
#
# - **Corpus keepers are frozen**: an arrival is `duplicado_corpus`
#   when ANY corpus keeper in its (frozen-centroid) cluster sits at or
#   above the cosine threshold. Keepers are never retracted.
# - **Arrival order is the batch-side priority**: ids are
#   arrival-ordered, so an arrival is `duplicado_lote` when any
#   SMALLER-id batch arrival in its cluster is at/above threshold —
#   admitted or not (the same pure pair predicate the paper rule
#   uses, which keeps the decision non-recursive and therefore
#   replay-stable and micro-batch-split-independent: with id-ranged
#   oldest-first files, every smaller-id arrival has been seen by the
#   time a vector is judged).
# - Per-batch cost: one broadcast centroid assignment + cluster-local
#   joins against the seen table — O(|batch| · cluster density),
#   independent of corpus size.


def build_semdedup_index(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    cutoff: int | None = None,
    n_centroids: int | None = None,
) -> None:
    """Corpus-side SemDeDup: freeze lowest-id centroids (pure-SQL
    replicable, like build_admission_index), run the paper-rule prune
    over the corpus split, and persist centroids + the seen table
    (corpus keepers, origem='corpus') under ``store_dir``."""
    _, base, freeze = _frozen_centroids(
        spark, sf_dir, store_dir, cutoff, n_centroids
    )
    cent = freeze()

    # three consumers (both victim-join sides, the keeper anti-join)
    # — pin the scored assignment once
    assigned = assign_to_centroids(base, cent).localCheckpoint(eager=True)
    # paper-rule victims: the HIGHER (sim_centroide, id) endpoint of
    # every at-threshold pair loses, whether or not the other endpoint
    # itself survives — pure pair predicate, no recursion, no window
    a = assigned.select(
        F.col("_id").alias("ida"), F.col("_vec").alias("va"),
        F.col("_norm").alias("na"), F.col("_cos_cent").alias("ca"), "_blk",
    )
    b = assigned.select(
        F.col("_id").alias("idb"), F.col("_vec").alias("vb"),
        F.col("_norm").alias("nb"), F.col("_cos_cent").alias("cb"), "_blk",
    )
    vitimas = (
        a.join(b, "_blk")
        .filter(F.col("ida") < F.col("idb"))
        .filter(_pair_cos() >= _COS_THRESHOLD)
        .select(
            F.when(
                (F.col("ca") < F.col("cb"))
                | ((F.col("ca") == F.col("cb")) & (F.col("ida") < F.col("idb"))),
                F.col("idb"),
            )
            .otherwise(F.col("ida"))
            .alias("_vid")
        )
        .distinct()
    )
    keepers = (
        assigned.join(vitimas, assigned["_id"] == vitimas["_vid"], "left_anti")
        .select(
            F.col("_id").alias("vec_id"),
            F.col("_blk").alias("cluster"),
            F.col("_cos_cent").alias("sim_centroide"),
            F.col("_vec").alias("embedding"),
            F.lit("corpus").alias("origem"),
            F.lit("mantido").alias("motivo"),
            F.lit(True).alias("mantido"),
        )
    )
    ParquetStore(spark, f"{store_dir}/sem_seen", ("vec_id",)).overwrite(keepers)


def admit_semdedup_frame(
    spark: SparkSession, emb_b: DataFrame, store_dir: str
) -> DataFrame:
    """Gate a batch of embeddings against the persisted SemDeDup state:
    frozen-centroid assignment, corpus-keeper veto, smaller-id
    seen-arrival veto (cross-batch via the seen table, within-frame via
    a cluster-local self-join), then MERGE every judged arrival —
    admitted or not — back into the seen table (rejected arrivals must
    keep vetoing later duplicates of themselves, exactly as the pure
    pair predicate demands). Returns one decision row per batch vector.
    Replay-stable: a re-delivered vector is excluded from its own veto
    set by the strict id< predicate, larger-id arrivals can never veto,
    and the MERGE is PK-idempotent."""
    store = ParquetStore(spark, f"{store_dir}/sem_seen", ("vec_id",))
    seen = store.read().withColumn("_n", F.sqrt(_dot("embedding", "embedding")))
    cent = read_parquet(spark, f"{store_dir}/centroids")

    # five consumers (corpus/prev/intra veto joins ×2 sides, the
    # decision projection) — pin the batch assignment once
    assigned_b = assign_to_centroids(_vec_base(emb_b), cent).localCheckpoint(
        eager=True
    )
    bv = assigned_b.select(
        F.col("_id").alias("ida"), F.col("_vec").alias("va"),
        F.col("_norm").alias("na"), F.col("_cos_cent").alias("ca"), "_blk",
    )
    sv = seen.select(
        F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"),
        F.col("_n").alias("nb"), F.col("cluster").alias("_blk"), "origem",
    )
    dup_corpus = (
        bv.join(sv.filter(F.col("origem") == "corpus"), "_blk")
        .filter(_pair_cos() >= _COS_THRESHOLD)
        .select(F.col("ida").alias("vec_id"))
        .distinct()
    )
    dup_prev = (
        bv.join(sv.filter(F.col("origem") == "lote"), "_blk")
        .filter(F.col("idb") < F.col("ida"))
        .filter(_pair_cos() >= _COS_THRESHOLD)
        .select(F.col("ida").alias("vec_id"))
    )
    intra = assigned_b.select(
        F.col("_id").alias("idb"), F.col("_vec").alias("vb"),
        F.col("_norm").alias("nb"), "_blk",
    )
    dup_intra = (
        bv.join(intra, "_blk")
        .filter(F.col("idb") < F.col("ida"))
        .filter(_pair_cos() >= _COS_THRESHOLD)
        .select(F.col("ida").alias("vec_id"))
    )
    dup_lote = dup_prev.unionByName(dup_intra).distinct()

    dec = (
        assigned_b.select(
            F.col("_id").alias("vec_id"),
            F.col("_blk").alias("cluster"),
            F.col("_cos_cent").alias("sim_centroide"),
            F.col("_vec").alias("embedding"),
        )
        .join(dup_corpus.withColumn("_dc", F.lit(True)), "vec_id", "left")
        .join(dup_lote.withColumn("_dl", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id", "cluster", "sim_centroide", "embedding",
            F.when(F.col("_dc"), F.lit("duplicado_corpus"))
            .when(F.col("_dl"), F.lit("duplicado_lote"))
            .otherwise(F.lit("mantido"))
            .alias("motivo"),
        )
        .withColumn("mantido", F.col("motivo") == "mantido")
    )
    # the decision plan reads the seen files the MERGE below rewrites
    dec = dec.localCheckpoint(eager=True)
    store.merge_upsert(
        dec.select(
            "vec_id", "cluster", "sim_centroide", "embedding",
            F.lit("lote").alias("origem"), "motivo", "mantido",
        )
    )
    return dec.drop("embedding")


_SEMDEDUP_ADMIT_ORACLE = f"""
    WITH
    lim AS (SELECT CAST(floor({_CUT_FRAC} * (max(doc_id) + 1)) AS BIGINT)
                   AS corte FROM documents),
    corp AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
        sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings, lim WHERE vec_id < corte),
    cent AS (
      SELECT cid, cv FROM (
        SELECT vec_id AS cid, ev AS cv,
               row_number() OVER (ORDER BY vec_id) AS rn,
               count(*) OVER () AS n
        FROM corp)
      WHERE rn <= greatest(4, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT))),
    corp_assigned AS (
      SELECT vec_id, ev, nrm, cid, cos_cent FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos_cent DESC, cid) AS rn
        FROM (
          SELECT b.vec_id, b.ev, b.nrm, c.cid,
            round(list_dot_product(c.cv, b.ev)
                  / nullif(sqrt(list_dot_product(c.cv, c.cv)) * b.nrm, 0),
                  6) AS cos_cent
          FROM corp b CROSS JOIN cent c)) WHERE rn = 1),
    corp_vitimas AS (
      SELECT DISTINCT CASE
          WHEN (a.cos_cent < b.cos_cent)
            OR (a.cos_cent = b.cos_cent AND a.vec_id < b.vec_id)
          THEN b.vec_id ELSE a.vec_id END AS vid
      FROM corp_assigned a JOIN corp_assigned b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.ev, b.ev)
              / nullif(a.nrm * b.nrm, 0), 6) >= {_COS_THRESHOLD}),
    keepers AS (
      SELECT s.* FROM corp_assigned s
      LEFT JOIN corp_vitimas v ON s.vec_id = v.vid WHERE v.vid IS NULL),
    lote AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
        sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings, lim WHERE vec_id >= corte),
    lote_assigned AS (
      SELECT vec_id, ev, nrm, cid, cos_cent FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos_cent DESC, cid) AS rn
        FROM (
          SELECT b.vec_id, b.ev, b.nrm, c.cid,
            round(list_dot_product(c.cv, b.ev)
                  / nullif(sqrt(list_dot_product(c.cv, c.cv)) * b.nrm, 0),
                  6) AS cos_cent
          FROM lote b CROSS JOIN cent c)) WHERE rn = 1),
    dup_corpus AS (
      SELECT DISTINCT b.vec_id
      FROM lote_assigned b JOIN keepers k ON b.cid = k.cid
      WHERE round(list_dot_product(b.ev, k.ev)
              / nullif(b.nrm * k.nrm, 0), 6) >= {_COS_THRESHOLD}),
    dup_lote AS (
      SELECT DISTINCT b.vec_id
      FROM lote_assigned b JOIN lote_assigned a
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.ev, b.ev)
              / nullif(a.nrm * b.nrm, 0), 6) >= {_COS_THRESHOLD})
    SELECT b.vec_id, CAST(b.cid AS BIGINT) AS cluster,
           b.cos_cent AS sim_centroide,
           CASE WHEN dc.vec_id IS NOT NULL THEN 'duplicado_corpus'
                WHEN dl.vec_id IS NOT NULL THEN 'duplicado_lote'
                ELSE 'mantido' END AS motivo,
           dc.vec_id IS NULL AND dl.vec_id IS NULL AS mantido
    FROM lote_assigned b
    LEFT JOIN dup_corpus dc ON b.vec_id = dc.vec_id
    LEFT JOIN dup_lote dl ON b.vec_id = dl.vec_id
"""
