"""Near-duplicate detection at scale: MinHash+LSH and n-gram Jaccard.

North-star operators (not in the reference surface). Design notes for
the 100 TB posture:

- Shingling/minhashing is embarrassingly parallel (narrow ops).
- The MinHash signature is built from md5 digests, so the "permutation"
  family is engine-independent and the oracle can reproduce it exactly:
  ``minhash_i(doc) = min over shingles of md5(i || ':' || shingle)``
  (min over hex strings of a uniform hash = a valid MinHash).
- LSH banding turns all-pairs O(n²) into a shuffle on band keys; only
  docs sharing a band collide. Candidate pairs are then verified with
  the true shingle-set Jaccard.
- n-gram Jaccard uses source-blocking + an inverted-index join on the
  shingle (never a cartesian product), which is the standard
  scale-out formulation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from agrobr_spark.io import load
from agrobr_spark.normalize.expressions import tokens
from agrobr_spark.queries import register

N_HASHES = 8
BAND_SIZE = 2  # → 4 bands
# Operating point: with r rows/band and b bands the candidate
# probability at Jaccard s is 1-(1-s^r)^b; the rule-of-thumb threshold
# (steepest rise of the S-curve) is ≈ (1/b)^(1/r). The pinned catalog
# point (n=8, r=2 → b=4) sits at (1/4)^(1/2) = 0.5 — tuned to the
# fixture corpus where true near-dups have Jaccard ≥ ~0.6. Production
# signature widths (n=128, r=8 → b=16) give (1/16)^(1/8) ≈ 0.707 with
# a much sharper curve; both are first-class via the parameterized
# builders below (r5 VERDICT nit #4) and property-tested in
# tests/test_operators.py.


def word_shingles(frame: DataFrame, k: int, *keys: str) -> DataFrame:
    """Distinct md5 hashes of the ``k``-word shingles of each row's
    ``text``, one (``*keys``, shingle) row each; texts shorter than
    ``k`` words give none. Every shuffle, distinct and join downstream
    moves a fixed 32-char key instead of arbitrary-length n-gram text.
    The DuckDB oracles spell the same shingle with 1-based subscripts."""
    rest = "".join(f", t[i+{j}]" for j in range(1, int(k)))
    return (
        frame.select(*keys, tokens("text").alias("t"))
        .filter(F.size("t") >= k)
        .select(
            *keys,
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {int(k)}),"
                    f" i -> md5(concat_ws(' ', t[i]{rest})))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-word shingles per (doc_id, source)."""
    docs = load(spark, sf_dir, "documents")
    return word_shingles(docs, 3, "doc_id", "source")


_SHINGLES_SQL = r"""
    sh AS (
      SELECT DISTINCT doc_id, source,
             md5(concat_ws(' ', t[i], t[i+1], t[i+2])) AS shingle
      FROM (SELECT doc_id, source,
                   string_split_regex(trim(text), '\s+') AS t
            FROM documents) toks,
           unnest(range(1, len(t) - 1)) AS r(i)
      WHERE len(t) >= 3)
"""


def minhash_cols(n_hashes: int = N_HASHES) -> list:
    """``n_hashes`` md5-derived MinHash aggregate columns over a
    ``shingle`` column (min over hex strings of a uniform hash is a
    valid MinHash; the family is engine-independent)."""
    return [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(int(n_hashes))
    ]


def lsh_bands(
    n_hashes: int = N_HASHES, band_size: int = BAND_SIZE
) -> list[tuple[int, list[str]]]:
    """Disjoint LSH bands over the minhash columns: ``n_hashes/band_size``
    bands of ``band_size`` rows each. ``n_hashes`` must divide evenly —
    a silently-dropped remainder hash would shift the S-curve."""
    n, r = int(n_hashes), int(band_size)
    if n % r != 0:
        raise ValueError(f"n_hashes={n} not divisible by band_size={r}")
    return [
        (b, [f"mh{i}" for i in range(b * r, (b + 1) * r)])
        for b in range(n // r)
    ]


def lsh_candidate_probability(s: float, n_hashes: int, band_size: int) -> float:
    """Analytic S-curve: probability a pair with Jaccard ``s`` shares
    at least one LSH band — 1 - (1 - s^r)^b. The curve rises steepest
    near (1/b)^(1/r); pick (n_hashes, band_size) so that point sits at
    the dedup threshold you mean to enforce."""
    r = int(band_size)
    b = int(n_hashes) // r
    return 1.0 - (1.0 - float(s) ** r) ** b


def band_keys(
    sigs: DataFrame, n_hashes: int = N_HASHES, band_size: int = BAND_SIZE
) -> DataFrame:
    """(doc_id, banda, chave) LSH band keys from a (doc_id, mh0..)
    signature frame — docs sharing any (banda, chave) are candidates.
    The band key is one md5 over the band's concatenated minhashes, so
    shuffle width stays one 32-char key regardless of signature width."""
    bandas = None
    for b, cols in lsh_bands(n_hashes, band_size):
        banda = sigs.select(
            "doc_id",
            F.lit(b).alias("banda"),
            F.md5(F.concat(*[F.col(c) for c in cols])).alias("chave"),
        )
        bandas = banda if bandas is None else bandas.unionByName(banda)
    return bandas


def minhash_band_keys(
    shingles: DataFrame, n_hashes: int = N_HASHES, band_size: int = BAND_SIZE
) -> DataFrame:
    """``band_keys`` of the signatures of a (doc_id, shingle) frame."""
    assin = shingles.groupBy("doc_id").agg(*minhash_cols(n_hashes))
    return band_keys(assin, n_hashes, band_size)


_MINHASH_SQL_COLS = ",\n        ".join(
    f"min(md5(concat('{i}:', shingle))) AS mh{i}" for i in range(N_HASHES)
)
_BANDS = lsh_bands(N_HASHES, BAND_SIZE)
_BAND_SQL = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, {b} AS banda, md5(concat({', '.join(cols)})) AS chave"
    " FROM assin"
    for b, cols in _BANDS
)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    assin AS (
      SELECT doc_id,
        {_MINHASH_SQL_COLS}
      FROM sh GROUP BY doc_id),
    bandas AS (
{_BAND_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandas a JOIN bandas b
        ON a.banda = b.banda AND a.chave = b.chave AND a.doc_id < b.doc_id),
    tam AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_comum
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b, i.n_comum,
      CAST(i.n_comum AS DOUBLE)
        / CAST(ta.n + tb.n - i.n_comum AS DOUBLE) AS jaccard
    FROM inter i
    JOIN tam ta ON ta.doc_id = i.doc_a
    JOIN tam tb ON tb.doc_id = i.doc_b
    """,
    tags=("DEDUP", "MINHASH", "LSH"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (8 md5-derived hashes) + LSH banding (4 bands × 2 rows)
    → candidate pairs → exact Jaccard verification."""
    # the SHINGLE frame stays deliberately unpinned: it is ~|tokens|
    # rows (materializing it is worse at scale — the text_bm25_rm3
    # adjudication), its lineage is narrow, and an InMemoryRelation
    # over it blocks Catalyst pruning (measured 2-5× slower with
    # .cache() at sf0.01). What IS pinned are the three frames the
    # plan re-references that are SMALL by construction: the band
    # keys (4 narrow rows per doc), the candidate pairs (LSH leaves
    # <5% of docs), and the candidate docs' shingles — without the
    # pins every reference re-ran the full tokenize+band join (the
    # final plan re-executed the shingle explode up to 6×)
    sh = _shingles_df(spark, sf_dir)
    bandas = minhash_band_keys(sh, N_HASHES, BAND_SIZE).localCheckpoint(
        eager=True
    )

    a = bandas.alias("a")
    b = bandas.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.banda") == F.col("b.banda"))
            & (F.col("a.chave") == F.col("b.chave"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    # verification touches only candidate docs: semi-join the shingle
    # set down (LSH typically leaves <5% of docs as candidates) before
    # the pair join — the full corpus never reaches the O(pairs) stage.
    # No broadcast hint: cand_docs is a derived subtree, and forcing a
    # broadcast exchange on it re-executes the band-join pipeline as a
    # separate job; AQE converts the semi-join to broadcast at runtime
    # when the candidate set is small.
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = sh.join(cand_docs, "doc_id", "left_semi").localCheckpoint(
        eager=True
    )
    tam = sh_cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh_cand.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh_cand.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_comum"))
    )
    ta = tam.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    tb = tam.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_comum",
            (
                F.col("n_comum").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_comum")).cast("double")
            ).alias("jaccard"),
        )
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    tam AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_comum
      FROM sh a JOIN sh b
        ON a.source = b.source AND a.shingle = b.shingle
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT i.doc_a, i.doc_b, i.n_comum,
      CAST(i.n_comum AS DOUBLE)
        / CAST(ta.n + tb.n - i.n_comum AS DOUBLE) AS jaccard
    FROM inter i
    JOIN tam ta ON ta.doc_id = i.doc_a
    JOIN tam tb ON tb.doc_id = i.doc_b
    WHERE CAST(i.n_comum AS DOUBLE)
        / CAST(ta.n + tb.n - i.n_comum AS DOUBLE) >= 0.05
    """,
    tags=("DEDUP", "NGRAM", "JACCARD"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs via source-blocked inverted-index
    join (pairs sharing ≥1 shingle within a source block), threshold 0.05."""
    sh = _shingles_df(spark, sf_dir)
    tam = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_comum"))
    )
    ta = tam.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    tb = tam.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_comum").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_comum")
    ).cast("double")
    return (
        inter.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.05)
        .select("doc_a", "doc_b", "n_comum", "jaccard")
    )


# --- SimHash (16-bit, integer-exact across engines) ---

SIMHASH_BITS = 16

_SH_H = "CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT)"
_SH_H_DUCK = "CAST(('0x' || substring(md5(shingle), 1, 15))::UBIGINT AS BIGINT)"


def _simhash_sum_cols(h_expr: str) -> str:
    return ",\n        ".join(
        f"sum(2 * ((({h_expr}) >> {i}) & 1) - 1) AS s{i}"
        for i in range(SIMHASH_BITS)
    )


_SIMHASH_ASSEMBLE = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    somas AS (
      SELECT doc_id,
        {_simhash_sum_cols(_SH_H_DUCK)}
      FROM sh GROUP BY doc_id),
    assinaturas AS (
      SELECT doc_id, {_SIMHASH_ASSEMBLE} AS simhash FROM somas)
    SELECT doc_id, simhash,
           count(*) OVER (PARTITION BY simhash) AS n_bucket
    FROM assinaturas
    """,
    tags=("DEDUP", "SIMHASH"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: each shingle votes ±1 on every bit
    of its md5-derived hash; the sign vector is the signature. Buckets
    with n_bucket > 1 are near-dup candidates (Hamming-0 collisions);
    wider radii probe bit-flipped buckets. Integer-only → bit-exact
    across engines. Narrow ops + one groupBy: scales linearly."""
    sh = _shingles_df(spark, sf_dir)
    h = F.expr(_SH_H)
    somas = sh.groupBy("doc_id").agg(
        *[
            F.sum(2 * F.shiftright(h, i).bitwiseAND(F.lit(1)) - 1).alias(f"s{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    assin = somas.select("doc_id", F.expr(_SIMHASH_ASSEMBLE).alias("simhash"))
    from pyspark.sql import Window

    return assin.select(
        "doc_id",
        "simhash",
        F.count(F.lit(1)).over(Window.partitionBy("simhash")).alias("n_bucket"),
    )


# --- embedding-cosine near-dup (threshold tuned to the synthetic corpus) ---

_COS_THRESHOLD = 0.45

@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH pares AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label_a,
        b.label AS label_b,
        round(
          list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / nullif(
                sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))), 0),
          6) AS cosseno
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, label_a, label_b, cosseno
    FROM pares WHERE cosseno >= {_COS_THRESHOLD}
    """,
    tags=("DEDUP", "EMBEDDING", "COSINE"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.45), computed by
    the EXACT triangle block equi-join (operators/allpairs.py): same
    n²/2 comparisons as all-pairs, but as a hash-shuffled equi-join on
    block-pair keys — no BroadcastNestedLoopJoin (the round-1 plan was
    the non-equi `vec_a < vec_b` nested loop, a scale-killer). 100%
    recall, so the all-pairs DuckDB oracle still verifies it exactly.
    Rounded to 6 decimals for cross-engine float stability.
    """
    from agrobr_spark.operators.allpairs import block_cosine_pairs

    e = load(spark, sf_dir, "embeddings")
    pares = block_cosine_pairs(
        e,
        id_col="vec_id",
        vec_col="embedding",
        threshold=_COS_THRESHOLD,
        n_blocks=8,
        extra_cols=("label",),
    )
    return pares.select(
        F.col("id_a").alias("vec_a"),
        F.col("id_b").alias("vec_b"),
        "label_a",
        "label_b",
        "cosseno",
    )



# Shared oracle CTE: the IVF-cluster-blocked near-dup PAIR SET — the
# scale-default pair source for near_dup_embeddings AND the cluster
# resolution queries built on it. ~sqrt(n) centroids (library sizing
# rule, operators/allpairs.py), deterministic rounded-cosine + id
# tie-break assignment, exact cosine only within clusters, top-2
# multiprobe assignment (each vector joins its 2 nearest clusters —
# the recall lever `dedup_blocking_recall` measures; single-probe
# measured 0.357 on the sf0.01 fixture, multiprobe lifts it without
# changing the ~n^1.5 work shape, only its constant).
_N_PROBE = 2

_NEARDUP_PAIRS_CTE = f"""
    cent AS (
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
      SELECT b.vec_id, b.label, b.ev, b.nrm, c.cid,
        round(list_dot_product(c.cv, b.ev)
              / nullif(sqrt(list_dot_product(c.cv, c.cv)) * b.nrm, 0),
              6) AS cos_cent
      FROM base b CROSS JOIN cent c),
    assigned AS (
      SELECT vec_id, label, ev, nrm, cid FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos_cent DESC, cid) AS rn
        FROM scored) WHERE rn <= {_N_PROBE}),
    pares AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
        a.label AS label_a, b.label AS label_b,
        round(list_dot_product(a.ev, b.ev)
              / nullif(a.nrm * b.nrm, 0), 6) AS cosseno
      FROM assigned a JOIN assigned b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.ev, b.ev)
              / nullif(a.nrm * b.nrm, 0), 6) >= {_COS_THRESHOLD})"""


# embeddings row count per fixture dir, for the ~sqrt(n) centroid
# sizing — computed once per sf_dir instead of one extra count JOB per
# invocation when a composed query (pipeline_keep_set, admit_batch)
# builds the pair pipeline more than once (r5 VERDICT nit #3);
# mtime-keyed so a rewritten fixture dir invalidates (r6 VERDICT nit #2)
_N_CACHE: dict[tuple, int] = {}


def _embeddings_count(spark: SparkSession, sf_dir: str) -> int:
    from agrobr_spark.io import table_cache_key

    k = table_cache_key(sf_dir, "embeddings")
    if k not in _N_CACHE:
        _N_CACHE[k] = load(spark, sf_dir, "embeddings").count()
    return _N_CACHE[k]


def _neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of `_NEARDUP_PAIRS_CTE`: IVF-cluster-blocked
    near-dup pairs via operators/allpairs.cluster_cosine_pairs."""
    from agrobr_spark.operators.allpairs import cluster_cosine_pairs

    e = load(spark, sf_dir, "embeddings")
    n = _embeddings_count(spark, sf_dir)
    return cluster_cosine_pairs(
        e,
        id_col="vec_id",
        vec_col="embedding",
        threshold=_COS_THRESHOLD,
        n_centroids=max(4, int(n**0.5)),
        extra_cols=("label",),
        # oracle-pinned: the recursive-CTE oracle replicates the
        # lowest-id stand-in exactly; the library default is the real
        # sampled k-means fit (operators/allpairs.fit_centroids_kmeans)
        centroid_fit="lowest_id",
        n_probe=_N_PROBE,
    )


@register(
    "near_dup_embeddings",
    oracle=f"""
    WITH {_NEARDUP_PAIRS_CTE}
    SELECT va AS vec_a, vb AS vec_b, label_a, label_b, cosseno
    FROM pares
    """,
    tags=("DEDUP", "EMBEDDING", "ANN", "SCALE_DEFAULT"),
)
def near_dup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup — the 100 TB DEFAULT path (VERDICT r2 #3):
    IVF-style cluster blocking (operators/allpairs.cluster_cosine_pairs)
    so exact cosine runs only WITHIN clusters via an equi-join on the
    cluster key — no stage ever materializes the full n²/2 pair space
    (`dedup_embedding_cosine` keeps the exact triangle join as the
    oracle baseline / exactness fallback). Cluster assignment uses the
    same rounded-cosine + id tie-break determinism as `sim_ivf_ann`,
    so the full pipeline is hash-verified against pure SQL.

    Centroid count follows the library's ~sqrt(n) sizing (the oracle
    replicates the rule), so total pair work stays ~n^1.5 as the corpus
    grows — a 5x scale probe confirmed the previous pinned-10-centroid
    form went superlinear (~10x time at 5x data) exactly as predicted
    by the n²/C analysis. Assignment is top-2 multiprobe (each vector
    joins its two nearest clusters): boundary-straddling true pairs
    are recovered when the pair shares EITHER probed cluster, lifting
    measured blocking recall 0.357 -> 0.571 on the sf0.01 fixture
    (`dedup_blocking_recall`) for a constant-factor work increase."""
    return _neardup_pairs(spark, sf_dir).select(
        F.col("id_a").alias("vec_a"),
        F.col("id_b").alias("vec_b"),
        "label_a",
        "label_b",
        "cosseno",
    )


_COMPONENTS_CTE = f"""{_NEARDUP_PAIRS_CTE},
    arestas AS (
      SELECT va AS a, vb AS b FROM pares
      UNION SELECT vb, va FROM pares),
    alcance AS (
      SELECT a AS id, b AS peer FROM arestas
      UNION
      SELECT r.id, e.b FROM alcance r JOIN arestas e ON r.peer = e.a),
    comp AS (
      SELECT id, least(id, min(peer)) AS componente
      FROM alcance GROUP BY id)"""


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_CTE}
    SELECT id AS vec_id, componente,
           CAST(count(*) OVER (PARTITION BY componente) AS BIGINT) AS tamanho
    FROM comp
    """,
    tags=("DEDUP", "COMPONENTS", "ITERATIVE", "SCALE_DEFAULT"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: the scale-default near-dup pairs
    (IVF-cluster-blocked, shared with `near_dup_embeddings` — NOT the
    exact O(n²) baseline; the 5× probe showed the exact pair source
    dominates the runtime) resolved into connected components via
    iterative min-label propagation (operators/components.py), with
    the smallest member id as the canonical representative and the
    cluster size attached. The oracle computes the identical fixpoint
    as a DuckDB recursive CTE over the same cluster-blocked pair set,
    so even the iterative operator stays hash-verified."""
    from pyspark.sql import Window

    from agrobr_spark.operators.components import connected_components

    pares = _neardup_pairs(spark, sf_dir)
    comp = connected_components(pares, "id_a", "id_b")
    w = Window.partitionBy("componente")
    return comp.select(
        F.col("id").alias("vec_id"),
        "componente",
        F.count(F.lit(1)).over(w).alias("tamanho"),
    )


@register(
    "dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_CTE},
    ranqueado AS (
      SELECT c.id AS doc_id, c.componente, d.n_chars,
             row_number() OVER (
               PARTITION BY c.componente
               ORDER BY d.n_chars DESC, c.id) AS rk
      FROM comp c JOIN documents d ON d.doc_id = c.id)
    SELECT doc_id, componente, n_chars, rk = 1 AS sobrevivente
    FROM ranqueado
    """,
    tags=("DEDUP", "COMPONENTS", "SURVIVORSHIP", "SCALE_DEFAULT"),
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection — the step that actually DROPS duplicates:
    near-dup clusters (same scale-default pair set + components
    fixpoint as `dedup_components`) joined back to the documents table
    (vec_id ↔ doc_id in the fixtures), keeping the longest document
    per cluster (doc_id tie-break). Non-clustered docs are untouched
    by construction — the pipeline only ever pays for docs that
    collided. Reference has no analog (its dedup is a PK upsert); this
    is the training-data extension surface."""
    from pyspark.sql import Window

    from agrobr_spark.operators.components import connected_components

    pares = _neardup_pairs(spark, sf_dir)
    comp = connected_components(pares, "id_a", "id_b")
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("componente").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        comp.select(F.col("id").alias("doc_id"), "componente")
        .join(docs, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id", "componente", "n_chars",
            (F.col("rk") == 1).alias("sobrevivente"),
        )
    )


# ---- incremental text dedup: batch signatures vs a frozen index ----

_INC_JACCARD = 0.5


@register(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    lim AS (SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT)
                   AS corte FROM documents),
    assin AS (
      SELECT doc_id,
        {_MINHASH_SQL_COLS}
      FROM sh GROUP BY doc_id),
    bandas AS (
{_BAND_SQL}),
    cand AS (
      SELECT DISTINCT c.doc_id AS doc_corpus, b.doc_id AS doc_lote
      FROM bandas c JOIN bandas b
        ON c.banda = b.banda AND c.chave = b.chave, lim
      WHERE c.doc_id < lim.corte AND b.doc_id >= lim.corte),
    tam AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_corpus, c.doc_lote, count(*) AS n_comum
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_corpus
      JOIN sh sb ON sb.doc_id = c.doc_lote AND sb.shingle = sa.shingle
      GROUP BY c.doc_corpus, c.doc_lote)
    SELECT i.doc_lote, i.doc_corpus,
      CAST(i.n_comum AS DOUBLE)
        / CAST(ta.n + tb.n - i.n_comum AS DOUBLE) AS jaccard
    FROM inter i
    JOIN tam ta ON ta.doc_id = i.doc_corpus
    JOIN tam tb ON tb.doc_id = i.doc_lote
    WHERE CAST(i.n_comum AS DOUBLE)
        / CAST(ta.n + tb.n - i.n_comum AS DOUBLE) >= {_INC_JACCARD}
    """,
    tags=("DEDUP", "MINHASH", "INCREMENTAL", "SCALE_DEFAULT"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-level incremental dedup — the signature-index anti-join a
    daily pipeline runs BEFORE any embedding work (r5 VERDICT top item
    names exactly this shape: "anti-join batch shingle/minhash
    signatures ... against a persisted index table"): the corpus
    split's LSH band keys are the frozen index (tiny — bands ×
    32-char keys per doc, the only corpus state touched); the new
    batch computes its own signatures, candidates come from one
    equi-join on (banda, chave), and candidates are verified with
    exact shingle Jaccard ≥ 0.5. The corpus TEXT is never re-read,
    never reshuffled: at 100 TB the band-key index is ~1/1000th of
    the corpus and the join is batch-sized. Exact dups (jaccard 1.0)
    collide in every band and are always caught; near-dups follow the
    (8,2) S-curve documented at the top of this module.

    Output: (doc_lote, doc_corpus, jaccard) — the batch docs that
    must be rejected as text duplicates of indexed corpus docs, with
    their match. Composes with pipeline_admit_batch's embedding gates
    as an additional `duplicado_texto` reason."""
    from agrobr_spark.queries.admission import _split_params

    cut = _split_params(spark, sf_dir)[0]
    sh = _shingles_df(spark, sf_dir)
    sh_corpus = sh.filter(F.col("doc_id") < cut)
    sh_lote = sh.filter(F.col("doc_id") >= cut)

    # the persisted part: corpus band keys (built once, stored; here
    # derived inline from the corpus split so the oracle can replicate)
    bandas_corpus = minhash_band_keys(sh_corpus).withColumnRenamed(
        "doc_id", "doc_corpus"
    )
    bandas_lote = minhash_band_keys(sh_lote).withColumnRenamed(
        "doc_id", "doc_lote"
    )
    cand = (
        bandas_corpus.join(bandas_lote, ["banda", "chave"])
        .select("doc_corpus", "doc_lote")
        .distinct()
    )

    # exact verify, batch-pruned: only candidate docs' shingles move
    cd = cand.select(F.col("doc_corpus").alias("doc_id")).unionByName(
        cand.select(F.col("doc_lote").alias("doc_id"))
    ).distinct()
    sh_cand = sh.join(cd, "doc_id", "left_semi")
    tam = sh_cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh_cand.select(F.col("doc_id").alias("doc_corpus"), "shingle")
    sb = sh_cand.select(F.col("doc_id").alias("doc_lote"), "shingle")
    inter = (
        cand.join(sa, "doc_corpus")
        .join(sb, ["doc_lote", "shingle"])
        .groupBy("doc_corpus", "doc_lote")
        .agg(F.count(F.lit(1)).alias("n_comum"))
    )
    ta = tam.select(F.col("doc_id").alias("doc_corpus"), F.col("n").alias("na"))
    tb = tam.select(F.col("doc_id").alias("doc_lote"), F.col("n").alias("nb"))
    return (
        inter.join(ta, "doc_corpus")
        .join(tb, "doc_lote")
        .select(
            "doc_lote",
            "doc_corpus",
            (
                F.col("n_comum").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_comum")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _INC_JACCARD)
    )


# --- measured dedup quality: recall/precision of the approximate
#     paths against their exact ground truths (r5 VERDICT nit: the
#     blocking recall was "unquantified" — make the engine measure it)


_QR_JACC = 0.5  # ground-truth dup threshold = the LSH S-curve midpoint


@register(
    "dedup_lsh_quality_report",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    assin AS (
      SELECT doc_id,
        {_MINHASH_SQL_COLS}
      FROM sh GROUP BY doc_id),
    bandas AS (
{_BAND_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandas a JOIN bandas b
        ON a.banda = b.banda AND a.chave = b.chave AND a.doc_id < b.doc_id),
    tam AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_comum
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    verdade AS (
      SELECT i.doc_a, i.doc_b FROM inter i
      JOIN tam ta ON ta.doc_id = i.doc_a
      JOIN tam tb ON tb.doc_id = i.doc_b
      WHERE CAST(i.n_comum AS DOUBLE)
          / CAST(ta.n + tb.n - i.n_comum AS DOUBLE) >= {_QR_JACC}),
    marcas AS (
      SELECT coalesce(v.doc_a, c.doc_a) AS doc_a,
             CASE WHEN v.doc_a IS NULL THEN 0 ELSE 1 END AS t,
             CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS c
      FROM verdade v
      FULL JOIN cand c ON c.doc_a = v.doc_a AND c.doc_b = v.doc_b)
    SELECT CAST(sum(t) AS BIGINT) AS n_verdadeiros,
           CAST(sum(c) AS BIGINT) AS n_candidatos,
           CAST(sum(t * c) AS BIGINT) AS n_recuperados,
           round(CAST(sum(t * c) AS DOUBLE) / nullif(sum(t), 0), 6)
             AS recall,
           round(CAST(sum(t * c) AS DOUBLE) / nullif(sum(c), 0), 6)
             AS precisao
    FROM marcas
    """,
    tags=("DEDUP", "MINHASH", "LSH", "QUALITY"),
)
def dedup_lsh_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH operating point: one row with the candidate
    recall and precision of the (8-hash, 4-band) MinHash blocking
    against exact shingle-Jaccard ground truth at the S-curve midpoint
    (Jaccard >= 0.5). This turns the analytic curve
    (`lsh_candidate_probability`) into a number measured on the actual
    corpus — the gap between the two is the fixture's Jaccard mass
    near the threshold.

    Plan: ground truth is the unblocked inverted-index pair join
    (every co-shingled pair once, exact Jaccard), candidates are the
    band-key equi-join, and the two pair sets meet in ONE full-outer
    join aggregated to a single row — no cartesian, no driver-side
    set math. At 100 TB the ground-truth side is the expensive term
    (it is exactly the work LSH exists to avoid): run the report on a
    deterministic hash-sample of docs (o5's sampler) and read
    recall/precision as estimates."""
    return lsh_quality(
        _shingles_df(spark, sf_dir), N_HASHES, BAND_SIZE, _QR_JACC
    )


def lsh_quality(
    sh: "DataFrame",
    n_hashes: int,
    band_size: int,
    jaccard_threshold: float,
) -> DataFrame:
    """Parameterized form of `dedup_lsh_quality_report` over any
    (doc_id, shingle) frame: measure any (n_hashes, band_size)
    operating point — e.g. the production width (128, 8), whose
    S-curve midpoint sits at (1/16)^(1/8) ≈ 0.707 — against exact
    Jaccard ground truth at ``jaccard_threshold``. The sharper a
    curve relative to the threshold, the fewer candidates and the
    higher the precision (tests/test_operators.py measures exactly
    that shift on the fixture)."""
    bandas = minhash_band_keys(sh, n_hashes, band_size)
    a = bandas.alias("a")
    b = bandas.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.banda") == F.col("b.banda"))
            & (F.col("a.chave") == F.col("b.chave"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    tam = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        sa.join(sb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_comum"))
    )
    ta = tam.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    tb = tam.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    verdade = (
        inter.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(
            F.col("n_comum").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_comum")).cast("double")
            >= float(jaccard_threshold)
        )
        .select("doc_a", "doc_b")
    )

    marcas = (
        verdade.withColumn("t", F.lit(1))
        .join(cand.withColumn("c", F.lit(1)), ["doc_a", "doc_b"], "full_outer")
        .select(
            F.coalesce("t", F.lit(0)).alias("t"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    return marcas.agg(
        F.sum("t").cast("bigint").alias("n_verdadeiros"),
        F.sum("c").cast("bigint").alias("n_candidatos"),
        F.sum(F.col("t") * F.col("c")).cast("bigint").alias("n_recuperados"),
        F.round(
            F.sum(F.col("t") * F.col("c")).cast("double")
            / F.nullif(F.sum("t"), F.lit(0)),
            6,
        ).alias("recall"),
        F.round(
            F.sum(F.col("t") * F.col("c")).cast("double")
            / F.nullif(F.sum("c"), F.lit(0)),
            6,
        ).alias("precisao"),
    )


@register(
    "dedup_blocking_recall",
    oracle=f"""
    WITH {_NEARDUP_PAIRS_CTE},
    verdade AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round(
          list_dot_product(CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[]))
            / nullif(
                sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[]))), 0),
          6) >= {_COS_THRESHOLD}),
    marcas AS (
      SELECT CASE WHEN v.va IS NULL THEN 0 ELSE 1 END AS t,
             CASE WHEN p.va IS NULL THEN 0 ELSE 1 END AS c
      FROM verdade v
      FULL JOIN pares p ON p.va = v.va AND p.vb = v.vb)
    SELECT CAST(sum(t) AS BIGINT) AS n_pares_exatos,
           CAST(sum(c) AS BIGINT) AS n_pares_blocados,
           round(CAST(sum(t * c) AS DOUBLE) / nullif(sum(t), 0), 6)
             AS recall_blocagem
    FROM marcas
    """,
    tags=("DEDUP", "EMBEDDING", "QUALITY"),
)
def dedup_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured IVF blocking recall: one row comparing the
    cluster-blocked near-dup pair set (`near_dup_embeddings`'s source,
    deterministic lowest-id centroids so the oracle can replicate it)
    against the EXACT triangle-join pair set at the same cosine
    threshold. The blocked set misses exactly the true pairs whose
    members land in different clusters, so recall_blocagem is the
    number the r5 verdict called unquantified — measured per corpus,
    not argued. The library's k-means fit path
    (operators/allpairs.fit_centroids_kmeans) has its own recall floor
    asserted in tests/test_operators.py; this entry keeps the measured
    number under the cross-engine gate.

    At 100 TB the exact side is O(n²/blocks) — run the report on a
    hash-sample (o5) exactly like `dedup_lsh_quality_report`."""
    from agrobr_spark.operators.allpairs import block_cosine_pairs

    e = load(spark, sf_dir, "embeddings")
    verdade = block_cosine_pairs(
        e,
        id_col="vec_id",
        vec_col="embedding",
        threshold=_COS_THRESHOLD,
        n_blocks=8,
    ).select(F.col("id_a").alias("va"), F.col("id_b").alias("vb"))
    blocados = _neardup_pairs(spark, sf_dir).select(
        F.col("id_a").alias("va"), F.col("id_b").alias("vb")
    )
    marcas = (
        verdade.withColumn("t", F.lit(1))
        .join(blocados.withColumn("c", F.lit(1)), ["va", "vb"], "full_outer")
        .select(
            F.coalesce("t", F.lit(0)).alias("t"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    return marcas.agg(
        F.sum("t").cast("bigint").alias("n_pares_exatos"),
        F.sum("c").cast("bigint").alias("n_pares_blocados"),
        F.round(
            F.sum(F.col("t") * F.col("c")).cast("double")
            / F.nullif(F.sum("t"), F.lit(0)),
            6,
        ).alias("recall_blocagem"),
    )


# --- multi-path blocking recall: the number users SEE is the number
#     the SHIPPED path gets (r6 VERDICT next #4) ---

#: measured operating points: (centroid_fit, n_probe, recall target).
#: Targets are floors every fixture scale clears with >=0.05 margin
#: (r7 VERDICT #5: a floor one fixture tweak from red is not a
#: guarantee) — measured sf0.001/0.01/0.1: lowest_id .36/.36/.19,
#: kmeans@2 .64/.64/.59, kmeans@4 1.0/1.0/.88, kmeans@6 1.0/1.0/.97.
#: The margin knob is n_probe escalation, not floor erosion: a user
#: who needs kmeans@4's old 0.85 as a floor runs kmeans@6 (measured
#: 0.97 on the worst fixture, ~2.25x the pair-stage constant). The
#: synthetic near-uniform vectors are IVF's worst case, so production
#: text embeddings (which cluster) sit above these numbers.
BLOCKING_RECALL_PATHS: tuple[tuple[str, int, float], ...] = (
    ("lowest_id", 1, 0.10),  # oracle stand-in: documented as weak
    ("kmeans", 2, 0.50),     # work-parity with the oracle-pinned path
    ("kmeans", 4, 0.80),     # default quality point (16x n^1.5 const)
    ("kmeans", 6, 0.90),     # high-recall point (36x n^1.5 const)
)


def blocking_recall_paths(
    e: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = _COS_THRESHOLD,
    paths: tuple[tuple[str, int, float], ...] = BLOCKING_RECALL_PATHS,
) -> DataFrame:
    """Measured blocking recall for EVERY shipped operating point —
    one row per (centroid_fit, n_probe): exact-pair count, recovered
    count, and recall against the exact triangle-join ground truth.
    This is the library report whose numbers users act on; the catalog
    entry below gates each row's recall against its documented floor
    so the cross-engine oracle pins the report's claims.

    Cost: the ground-truth side is O(n²/blocks) — at 100 TB run on a
    deterministic hash-sample (o5's sampler) like the other quality
    reports. Each candidate side is the ordinary ~n^1.5 blocked join.
    """
    from agrobr_spark.operators.allpairs import (
        block_cosine_pairs,
        cluster_cosine_pairs,
    )

    n = e.count()
    truth = block_cosine_pairs(
        e, id_col=id_col, vec_col=vec_col, threshold=threshold, n_blocks=8
    ).select(F.col("id_a").alias("va"), F.col("id_b").alias("vb"))
    frames = []
    for fit, n_probe, alvo in paths:
        cand = cluster_cosine_pairs(
            e,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            n_centroids=max(4, int(n**0.5)),
            centroid_fit=fit,
            n_probe=n_probe,
        ).select(
            F.col("id_a").alias("va"),
            F.col("id_b").alias("vb"),
            F.lit(1).alias("c"),
        )
        frames.append(
            truth.join(cand, ["va", "vb"], "left").agg(
                F.lit(fit).alias("caminho"),
                F.lit(int(n_probe)).cast("int").alias("n_probe"),
                F.count(F.lit(1)).cast("bigint").alias("n_pares_exatos"),
                F.coalesce(F.sum("c"), F.lit(0))
                .cast("bigint")
                .alias("n_recuperados"),
                # a pair-free fixture has nothing to miss: recall is
                # 1.0 by definition (not NULL), matching the oracle's
                # unconditional atinge_alvo = TRUE
                F.coalesce(
                    F.round(
                        F.coalesce(F.sum("c"), F.lit(0)).cast("double")
                        / F.nullif(F.count(F.lit(1)), F.lit(0)),
                        6,
                    ),
                    F.lit(1.0),
                ).alias("recall"),
                F.lit(float(alvo)).alias("alvo"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


_RECALL_PATH_ROWS = ", ".join(
    f"('{fit}', {npb})" for fit, npb, _ in BLOCKING_RECALL_PATHS
)


@register(
    "dedup_blocking_recall_paths",
    # Self-verifying oracle shape: the k-means candidate sets are not
    # SQL-replicable (sampled Lloyd fit), but each path's CONTRACT —
    # measured recall >= its documented floor — is a boolean the
    # oracle pins, alongside the exactly-computable ground-truth pair
    # count. A fit regression that drops any path below its floor
    # flips a boolean and fails the hash compare.
    oracle=f"""
    WITH verdade AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round(
          list_dot_product(CAST(a.embedding AS DOUBLE[]),
                           CAST(b.embedding AS DOUBLE[]))
            / nullif(
                sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[]))), 0),
          6) >= {_COS_THRESHOLD}),
    n AS (SELECT count(*) AS c FROM verdade)
    SELECT p.caminho, CAST(p.n_probe AS INTEGER) AS n_probe,
           CAST(n.c AS BIGINT) AS n_pares_exatos,
           TRUE AS atinge_alvo
    FROM (VALUES {_RECALL_PATH_ROWS}) AS p(caminho, n_probe), n
    """,
    tags=("DEDUP", "EMBEDDING", "QUALITY", "ANN"),
)
def dedup_blocking_recall_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking recall for every shipped ANN operating point — the
    oracle-pinned `dedup_blocking_recall` measures only the lowest-id
    stand-in (0.36 at sf0.01), but the DEFAULT the library ships is
    the sampled k-means fit, so this report measures all of
    ``BLOCKING_RECALL_PATHS`` and gates each against its documented
    floor (kmeans n_probe=4 — the default quality point — measures
    1.0 / 1.0 / 0.88 recall on sf0.001/0.01/0.1; every floor holds
    with >=0.05 measured margin at every fixture scale, tested at
    sf0.1 in ``test_operators.py``, and n_probe escalation is the
    documented knob when a user needs a higher floor). Raw recall
    numbers come from :func:`blocking_recall_paths`."""
    e = load(spark, sf_dir, "embeddings")
    return blocking_recall_paths(e).select(
        "caminho",
        "n_probe",
        "n_pares_exatos",
        (F.col("recall") >= F.col("alvo")).alias("atinge_alvo"),
    )


# -- SemDeDup: semantic deduplication by cluster-then-prune --

_SEMDEDUP_CTE = f"""
    cent AS (
      SELECT cid, cv FROM (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv,
               row_number() OVER (ORDER BY vec_id) AS rn,
               count(*) OVER () AS n
        FROM embeddings)
      WHERE rn <= greatest(4, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT))),
    base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
        sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                              CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings),
    scored AS (
      SELECT b.vec_id, b.ev, b.nrm, c.cid,
        round(list_dot_product(c.cv, b.ev)
              / nullif(sqrt(list_dot_product(c.cv, c.cv)) * b.nrm, 0),
              6) AS cos_cent
      FROM base b CROSS JOIN cent c),
    assigned AS (
      SELECT vec_id, ev, nrm, cid, cos_cent FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos_cent DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    vitimas AS (
      SELECT DISTINCT CASE
          WHEN (a.cos_cent < b.cos_cent)
            OR (a.cos_cent = b.cos_cent AND a.vec_id < b.vec_id)
          THEN b.vec_id ELSE a.vec_id END AS vid
      FROM assigned a JOIN assigned b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.ev, b.ev)
              / nullif(a.nrm * b.nrm, 0), 6) >= {_COS_THRESHOLD})"""


@register(
    "dedup_semdedup",
    oracle=f"""
    WITH {_SEMDEDUP_CTE}
    SELECT s.vec_id, CAST(s.cid AS BIGINT) AS cluster,
           s.cos_cent AS sim_centroide, v.vid IS NULL AS mantido
    FROM assigned s LEFT JOIN vitimas v ON s.vec_id = v.vid
    """,
    tags=("DEDUP", "EMBEDDING", "SEMDEDUP", "SCALE_DEFAULT"),
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table: one row
    per vector with its cluster, centroid similarity, and a
    ``mantido`` verdict — false when some same-cluster member at or
    above the ``{_COS_THRESHOLD}`` cosine boundary precedes it in
    keeper priority. Keeper priority is the paper's rule (LOWEST
    centroid similarity survives — the most atypical member of a
    duplicate neighborhood is the one worth keeping), evaluated as a
    pure pair predicate so the plan has NO per-cluster ranking window.

    This differs from `dedup_survivors` (connected components over the
    near-dup graph, lowest-id representative) exactly as SemDeDup
    differs from MinHash pipelines in practice: no transitive closure,
    no iteration — one assignment join plus one within-cluster pair
    join, which is why it is the standard first pruning pass over
    web-scale embedding corpora. The cosine boundary is the corpus's
    one dup threshold, shared with `near_dup_embeddings` and
    `sim_hard_negatives`.

    Catalog pin: lowest-id centroid stand-in + single probe, exactly
    replicated by the oracle CTE; the library form
    (operators/allpairs.semdedup_flags) defaults to the sampled
    k-means fit, and the skew-capped triangle sub-block join bounds
    the within-cluster pair work (see its docstring for the n^1.5
    argument)."""
    from agrobr_spark.operators.allpairs import semdedup_flags

    e = load(spark, sf_dir, "embeddings")
    n = _embeddings_count(spark, sf_dir)
    return semdedup_flags(
        e,
        id_col="vec_id",
        vec_col="embedding",
        threshold=_COS_THRESHOLD,
        n_centroids=max(4, int(n**0.5)),
        centroid_fit="lowest_id",
    )


# -- survivorship by QUALITY policy ------------------------------------


def _survivors_quality_oracle() -> str:
    from agrobr_spark.queries.pipeline_text import _STOP_SQL

    return f"""
    WITH RECURSIVE {_COMPONENTS_CTE},
    qualidade AS (
      SELECT doc_id,
        round(CAST(len(list_filter(
            CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                 ELSE string_split_regex(trim(text), '\\s+') END,
            w -> w IN ({_STOP_SQL}))) AS DOUBLE)
          / CAST(greatest(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END, 1)
            AS DOUBLE), 6) AS q
      FROM documents),
    ranqueado AS (
      SELECT c.id AS doc_id, c.componente, q.q AS qualidade,
             row_number() OVER (
               PARTITION BY c.componente
               ORDER BY q.q DESC, c.id) AS rk
      FROM comp c JOIN qualidade q ON q.doc_id = c.id)
    SELECT doc_id, componente, qualidade, rk = 1 AS sobrevivente
    FROM ranqueado
    """


@register(
    "dedup_survivors_quality",
    oracle=_survivors_quality_oracle(),
    tags=("DEDUP", "COMPONENTS", "SURVIVORSHIP", "QUALITY"),
)
def dedup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection by QUALITY policy: within each near-dup
    cluster keep the document with the best quality signal (stopword
    ratio at 6dp — the `text_quality_score` / `pipeline_token_budget`
    signal) instead of `dedup_survivors`' keep-longest. Policy is the
    one thing reasonable pipelines disagree on (RefinedWeb keeps
    longest, quality-filtered stacks keep best-scoring), so
    survivorship ships both as catalog-verified variants of ONE
    mechanism: same scale-default pair set, same pointer-doubling
    components fixpoint, only the ranking key changes — which is
    exactly the shape a policy knob should have (a different ORDER BY
    inside the per-cluster window, zero new shuffle structure).

    Determinism: quality is an exact-integer ratio rounded at 6dp,
    doc_id breaks ties; the oracle recomputes the identical fixpoint
    via the recursive CTE and the identical ranking."""
    from pyspark.sql import Window

    from agrobr_spark.operators.components import connected_components
    from agrobr_spark.queries.pipeline_text import STOPWORDS

    pares = _neardup_pairs(spark, sf_dir)
    comp = connected_components(pares, "id_a", "id_b")
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    qual = d.select(
        "doc_id",
        F.round(
            F.size(
                F.filter(toks, lambda w: F.array_contains(stop_arr, w))
            ).cast("double")
            / F.greatest(F.size(toks), F.lit(1)).cast("double"),
            6,
        ).alias("qualidade"),
    )
    w = Window.partitionBy("componente").orderBy(
        F.col("qualidade").desc(), F.col("doc_id")
    )
    return (
        comp.select(F.col("id").alias("doc_id"), "componente")
        .join(qual, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "componente",
            "qualidade",
            (F.col("rk") == 1).alias("sobrevivente"),
        )
    )


# -- dedup rate dashboard: every method's yield as one frame ------------


def _dedup_rate_oracle() -> str:
    from agrobr_spark.queries import _REGISTRY

    mh = _REGISTRY["dedup_minhash_lsh"].oracle
    ng = _REGISTRY["dedup_ngram_jaccard"].oracle
    nd = _REGISTRY["near_dup_embeddings"].oracle
    return f"""
    WITH mh AS (SELECT doc_a, doc_b FROM ({mh})),
    ng AS (SELECT doc_a, doc_b FROM ({ng})),
    nd AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM ({nd})),
    ex AS (
      SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS k
      FROM documents GROUP BY 1 HAVING count(*) > 1),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    linhas AS (
      SELECT 'exato' AS metodo,
        CAST(coalesce(sum(k * (k - 1) / 2), 0) AS BIGINT) AS n_pares,
        CAST(coalesce(sum(k), 0) AS BIGINT) AS n_docs
      FROM ex
      UNION ALL
      SELECT 'minhash_lsh', CAST(count(*) AS BIGINT),
        (SELECT CAST(count(*) AS BIGINT) FROM
          (SELECT doc_a FROM mh UNION SELECT doc_b FROM mh))
      FROM mh
      UNION ALL
      SELECT 'ngram_jaccard', CAST(count(*) AS BIGINT),
        (SELECT CAST(count(*) AS BIGINT) FROM
          (SELECT doc_a FROM ng UNION SELECT doc_b FROM ng))
      FROM ng
      UNION ALL
      SELECT 'embedding_ivf', CAST(count(*) AS BIGINT),
        (SELECT CAST(count(*) AS BIGINT) FROM
          (SELECT doc_a FROM nd UNION SELECT doc_b FROM nd))
      FROM nd)
    SELECT metodo, n_pares, n_docs,
      round(CAST(n_docs AS DOUBLE) / CAST(t.n AS DOUBLE), 6)
        AS fracao_corpus
    FROM linhas, total t
    """


@register(
    "corpus_dedup_rate_report",
    oracle=_dedup_rate_oracle(),
    tags=("DEDUP", "REPORT", "EVIDENCE"),
)
def corpus_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DASHBOARD: every shipped method's yield on the same
    corpus as one frame — exact (md5 text groups), MinHash-LSH,
    n-gram Jaccard, and the scale-default IVF embedding near-dup —
    each reporting pair count, affected-doc count, and corpus
    fraction. This is the row set a pipeline owner reads to pick a
    method and predict the keep-set shrink BEFORE running
    survivorship, and the regression canary when a tokenizer or
    threshold change silently moves a method's yield (the
    `sim_ann_recall_report` evidence-chain discipline applied to
    dedup).

    Plan: each method runs its own verified plan ONCE (broadcast
    band/bucket joins, blocked pair stages — their scale arguments
    hold unchanged); the report adds only four single-row aggregates
    and a distinct-doc union per method, all bounded by pair counts.
    The exact method is one md5 groupBy with k*(k-1)/2 arithmetic —
    pair counts without materializing pairs."""
    d = load(spark, sf_dir, "documents")
    total = d.count()

    def linha(metodo: str, pares: DataFrame, a: str, b: str) -> DataFrame:
        docs = (
            pares.select(F.col(a).alias("d"))
            .union(pares.select(F.col(b).alias("d")))
            .distinct()
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        )
        return (
            pares.agg(F.count(F.lit(1)).cast("bigint").alias("n_pares"))
            .crossJoin(docs)
            .select(F.lit(metodo).alias("metodo"), "n_pares", "n_docs")
        )

    ex = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
        .filter(F.col("k") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("k") * (F.col("k") - 1) / 2), F.lit(0)
            ).cast("bigint").alias("n_pares"),
            F.coalesce(F.sum("k"), F.lit(0)).cast("bigint").alias("n_docs"),
        )
        .select(F.lit("exato").alias("metodo"), "n_pares", "n_docs")
    )
    # the three pair methods are INDEPENDENT plans that each end in an
    # eager materialization — submit them from a small thread pool so
    # the later methods' tasks back-fill executors freed by the
    # earlier ones' stage tails (guide §2.6 overlap-independent-jobs;
    # actions are only sequential because driver code calls them
    # sequentially). run_concurrently (session.py) keeps job
    # descriptions/groups correct per thread; plans touch no shared
    # mutable state beyond idempotent memo dicts.
    from agrobr_spark.session import run_concurrently

    f_mh, f_ng, f_nd = run_concurrently(
        spark,
        lambda: dedup_minhash_lsh(spark, sf_dir).localCheckpoint(eager=True),
        lambda: dedup_ngram_jaccard(spark, sf_dir).localCheckpoint(eager=True),
        lambda: near_dup_embeddings(spark, sf_dir).localCheckpoint(eager=True),
    )
    mh = linha("minhash_lsh", f_mh, "doc_a", "doc_b")
    ng = linha("ngram_jaccard", f_ng, "doc_a", "doc_b")
    nd = linha("embedding_ivf", f_nd, "vec_a", "vec_b")
    out = ex.unionByName(mh).unionByName(ng).unionByName(nd)
    return out.select(
        "metodo",
        "n_pares",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.lit(float(total)), 6
        ).alias("fracao_corpus"),
    )
