"""Persisted kNN graph with incremental (streamed) maintenance.

Closes the last batch-only-refresh family (r9 VERDICT next #1): every
other expensive index in the engine (LSH survivors, SemDeDup seen
table, BM25/positional postings, DF index) has a frozen-state
streamed twin, while `sim_knn_graph` / `sim_graph_clusters` /
`graph_pagerank` rebuilt their edge table from scratch on every
refresh. This module is the graph's frozen-state store: build once
over the corpus, then fold vector micro-batches in by touching ONLY
the nodes whose top-k can have changed — the reference's incremental
accumulate property (fetch only what's missing, never recompute the
store; ref: agrobr/cepea/api.py:119-187) applied to a vector index.

State under ``store_dir`` (all ParquetStore tables, PK-idempotent):

- ``centroids/`` — the FROZEN IVF centroids fitted (or pinned) at
  build time; batches are assigned against these, never re-fitted —
  the `stream_admit_semdedup` discipline (queries/admission.py).
- ``members/`` — (cid, vec_id, ev, nrm): each vector in its single
  home cluster, disk-partitioned by ``cbalde = pmod(cid,
  cid_buckets)`` (manifest-frozen, same ~NODES_PER_BUCKET sizing rule
  as the edge table) so a batch touching B clusters reads at most B
  pruned ~256-node partitions — and the DIRECTORY count stays
  corpus-bounded instead of centroid-proportional (per-cid dirs made
  driver file listings the dominant fold term in the r11 40× probe).
- ``probes/`` — (cid, vec_id, qv, qn): each vector's ``n_probe``
  query-role cluster assignments, bucketed like ``members/`` — the
  reverse index "which nodes would see a new member of cluster c",
  which is what makes the affected set a pruned read instead of a
  corpus scan.
- ``edges/`` — (balde, vec_id, neighbor_id, posicao, cosseno): the
  current top-k graph, PK (vec_id, posicao), hash-bucketed by
  ``balde = pmod(vec_id, n_buckets)`` at a manifest-frozen width
  (``meta.json``; ~NODES_PER_BUCKET nodes each by default) so the
  per-batch edge read and MERGE rewrite touch only the buckets
  holding affected nodes.
- ``labels/`` + ``labels_by_comp/`` — the maintained component
  labels in TWO layouts of the same (vec_id, componente) rows:
  primary bucketed on the vec_id hash (id-keyed legs), secondary on
  ``cbalde = pmod(componente, n_buckets)`` so the label fold's
  members-of-touched-components read partition-prunes instead of
  scanning the corpus (r12; the last corpus-growing fold read). A
  relabel MOVES its secondary row across cbalde partitions — handled
  by the merge's ``extra_partitions`` stale-row dedup
  (store/table.py). The pair is kept crash-consistent by a durable
  delta JOURNAL (``labels_delta_pending/``, written before either
  merge), committed through ``store/fs.resolve_stage``'s redo record
  (see :func:`update_graph_labels_frame`).
- ``pranks/`` — the maintained per-component PageRank scores,
  bucketed like ``labels/``.

Incremental correctness rests on two facts:

1. **Insert-only top-k folding.** Candidates are only ever ADDED to a
   node's view (members never leave a cluster), and for any candidate
   multiset ``C_old ∪ C_new``: ``topk(C_old ∪ C_new) =
   topk(topk(C_old) ∪ C_new)`` under the total order
   (cosseno DESC, neighbor_id) — an element outside ``topk(C_old)``
   is dominated by k elements that are still present. So a batch
   update needs each affected node's CURRENT EDGES plus its NEW
   candidates, never its full candidate history.
2. **Exactly-once pair arrival.** A pair (q, m) with m's home cluster
   among q's probes meets at the LATER of their arrivals: corpus-
   corpus pairs at build; (old q, new m) via the probes-table read of
   the batch's touched clusters; (new q, old m) via the members-table
   read of the batch's probe clusters; (new q, new m) within the
   batch. The legs are disjoint by construction, and a defensive
   pair-key dedupe before ranking makes the whole update
   REPLAY-IDEMPOTENT: re-delivering a batch regenerates only pairs
   that already exist (byte-identical 6dp cosines), the dedupe
   collapses them, and every store MERGE is PK-last-writer-wins —
   no applied-batch-ids manifest needed
   (tests/test_operators.py::test_knn_store_replay_idempotent).

Per-batch cost: one broadcast centroid assignment, two
partition-pruned reads (touched clusters' probes, probe clusters'
members), one bounded-id semi-join on the edge table (at 100 TB: a
bloom/DPP semi-join), one pair-key dedupe + per-node window over
|affected| · O(cluster density) rows, and partition-pruned MERGEs —
independent of the number of vectors OUTSIDE the touched clusters.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from agrobr_spark.io import checkpoint_parquet, pin, read_parquet
from agrobr_spark.operators.allpairs import _dot, assign_to_centroids
from agrobr_spark.store.table import ParquetStore

#: target node count per edge bucket: buckets SCALE with the corpus
#: (the posting-index n_buckets rule) so a batch's affected nodes —
#: spread uniformly over vec_id — touch a corpus-independent VOLUME of
#: edge data once n ≫ NODES_PER_BUCKET × |affected| (the 100 TB
#: regime; at sf scale affected ids cover every bucket and the
#: "pruned" read degenerates to the whole tiny table — measured and
#: decomposed in SCALING.md round 10, contract pinned structurally by
#: tests/test_operators.py::test_knn_store_update_touches_only_affected).
NODES_PER_BUCKET = 256
MIN_EDGE_BUCKETS = 8


def edge_bucket_count(n_nodes: int) -> int:
    return max(MIN_EDGE_BUCKETS, -(-int(n_nodes) // NODES_PER_BUCKET))


def _read_meta(spark: SparkSession, store_dir: str) -> dict:
    """Store metadata through the Hadoop FS API (store/fs.py), so an
    s3a://, hdfs:// or file:// store_dir all resolve to the same
    place the data tables live — never a driver-local ``open()``
    (the module-wide round-2/3 convention; r10 review finding)."""
    import json

    from agrobr_spark.store.fs import read_text

    txt = read_text(spark, f"{store_dir}/meta.json")
    if txt is None:
        raise FileNotFoundError(
            f"knn_store meta.json missing under {store_dir!r} — was "
            "build_knn_graph_index run against this store_dir?"
        )
    return json.loads(txt)


def _stores(
    spark: SparkSession, store_dir: str
) -> tuple[ParquetStore, ParquetStore, ParquetStore]:
    # members/probes disk-partition on a HASH BUCKET of the cluster id
    # (cbalde = pmod(cid, cid_buckets)), not the raw cid: per-cid
    # directories scale with the centroid count (n/density dirs — the
    # r11 probe measured driver file listings over them becoming the
    # dominant fold term at 40×), while bucketed dirs follow the same
    # ~NODES_PER_BUCKET sizing rule as the edge table, so listing cost
    # is corpus-bounded and a touched cluster still reads one pruned
    # partition (±the ~256-node bucket's other clusters, filtered out
    # by the cid predicate after pruning).
    members = ParquetStore(
        spark, f"{store_dir}/members", ("vec_id",), partition_col="cbalde"
    )
    probes = ParquetStore(
        spark, f"{store_dir}/probes", ("vec_id", "cid"),
        partition_col="cbalde",
    )
    edges = ParquetStore(
        spark,
        f"{store_dir}/edges",
        ("vec_id", "posicao"),
        partition_col="balde",
    )
    return members, probes, edges


def _base(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).withColumn("_norm", F.sqrt(_dot("_vec", "_vec")))


def _cbalde(ncb: int):
    return F.pmod(F.col("cid"), F.lit(int(ncb))).cast("int")


def _member_rows(ranked: DataFrame, ncb: int = 1) -> DataFrame:
    return ranked.filter(F.col("_rn") == 1).select(
        F.col("_blk").alias("cid"),
        F.col("_id").alias("vec_id"),
        F.col("_vec").alias("ev"),
        F.col("_norm").alias("nrm"),
    ).withColumn("cbalde", _cbalde(ncb))


def _probe_rows(ranked: DataFrame, ncb: int = 1) -> DataFrame:
    return ranked.select(
        F.col("_blk").alias("cid"),
        F.col("_id").alias("vec_id"),
        F.col("_vec").alias("qv"),
        F.col("_norm").alias("qn"),
    ).withColumn("cbalde", _cbalde(ncb))


def _pair_cos() -> Column:
    return F.round(
        _dot("qv", "ev") / F.nullif(F.col("qn") * F.col("nrm"), F.lit(0.0)),
        6,
    )


def _candidates(probes: DataFrame, members: DataFrame) -> DataFrame:
    """Cluster-local candidate edges: probe rows × member rows of the
    same cluster — a plain hash equi-join on ``cid``; a (node,
    neighbor) pair meets at most once per leg because a member has
    exactly one home cluster."""
    q = probes.select(
        F.col("vec_id").alias("qid"), "qv", "qn", "cid"
    )
    m = members.select(
        F.col("vec_id").alias("mid"), "ev", "nrm", "cid"
    )
    return (
        q.join(m, "cid")
        .filter(F.col("mid") != F.col("qid"))
        .select(
            F.col("qid").alias("vec_id"),
            F.col("mid").alias("neighbor_id"),
            _pair_cos().alias("cosseno"),
        )
    )


def _topk_edges(cands: DataFrame, k: int, n_buckets: int) -> DataFrame:
    """Pair-key dedupe (idempotence — duplicate arrivals carry
    byte-identical 6dp cosines, max() is a no-op on them) then the
    per-node top-k window; output carries the edge store's bucket
    column at the store's frozen width."""
    dedup = cands.groupBy("vec_id", "neighbor_id").agg(
        F.max("cosseno").alias("cosseno")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosseno").desc(), "neighbor_id"
    )
    return (
        dedup.withColumn("posicao", F.row_number().over(w).cast("int"))
        .filter(F.col("posicao") <= int(k))
        .withColumn(
            "balde",
            F.pmod(F.col("vec_id"), F.lit(int(n_buckets))).cast("int"),
        )
        .select("balde", "vec_id", "neighbor_id", "posicao", "cosseno")
    )


def knn_graph_frozen_edges(
    emb: DataFrame,
    cent: DataFrame,
    k: int,
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-shot kNN graph of ``emb`` against an EXTERNAL frozen
    centroid table ``cent`` (_cid, _cv) — the batch twin the streamed
    store is oracle-pinned against (same assignment, same candidate
    join, same ranking code paths as the incremental fold)."""
    # member and probe legs both consume the ranked assignment — pin
    # it so the scored sweep runs once (the store build's checkpoint,
    # applied to the one-shot twin)
    ranked = assign_to_centroids(
        _base(emb, id_col, vec_col), cent, 6, n_probe
    ).localCheckpoint(eager=True)
    return _topk_edges(
        _candidates(_probe_rows(ranked), _member_rows(ranked)),
        k,
        MIN_EDGE_BUCKETS,
    ).select("vec_id", "neighbor_id", "posicao", "cosseno")


def build_knn_graph_index(
    emb_corpus: DataFrame,
    store_dir: str,
    k: int,
    n_probe: int,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    edge_buckets: int | None = None,
) -> None:
    """Build the persisted graph state over the corpus: freeze
    centroids (lowest-id pin by default — pure-SQL replicable, the
    catalog convention; pass ``centroids=`` from
    ``operators/allpairs.fit_centroids_kmeans`` for the library
    path), persist member/probe assignments partitioned by cluster,
    and materialize the corpus top-k edge table.

    ``edge_buckets`` freezes the edge table's hash-bucket width
    (manifest-recorded; defaults to ``edge_bucket_count`` —
    ~NODES_PER_BUCKET nodes per bucket). The per-batch update prunes its edge
    read AND its MERGE rewrite to the affected nodes' buckets, so
    size buckets such that a typical batch's affected-node count
    stays well under the bucket count — then per-batch edge IO is
    corpus-independent (SCALING.md round-10 probe)."""
    import json

    spark = emb_corpus.sparkSession
    base = _base(emb_corpus, id_col, vec_col)
    if centroids is None and n_centroids is None:
        # the auto-sizing fallback needs the corpus count BEFORE the
        # assignment exists — one extra job, only on this path (no
        # catalog caller hits it; they all pass n_centroids)
        n_centroids = max(
            4, int(n_probe * (emb_corpus.count()) ** 0.5)
        )
    if centroids is None:
        centroids = (
            base.orderBy("_id")
            .limit(int(n_centroids))
            .select(F.col("_id").alias("_cid"), F.col("_vec").alias("_cv"))
        )
    cent = checkpoint_parquet(centroids, f"{store_dir}/centroids")
    # materialize the assignment ONCE: members, probes and the
    # candidate join all consume the same ranked frame, and without
    # the checkpoint each overwrite re-ran the full assignment (r13:
    # measured 9.6 -> 5.0 s on the sf0.1 build). The corpus count (for
    # the bucket widths) and the id-sign guard ride the checkpoint's
    # own job as observed metrics — count of _rn==1 rows is exactly
    # one per corpus vector. The id-sign guard context: the store's
    # driver-side bucket arithmetic (`c % nb`) matches Spark's `pmod`
    # for any int under a positive modulus, but componente =
    # min(vec_id) >= 0 is a documented layout invariant, so negative
    # ids are rejected at the door (r12 VERDICT What's wrong #3).
    ranked, stats = pin(
        assign_to_centroids(base, cent, 6, n_probe),
        n=F.sum((F.col("_rn") == 1).cast("long")),
        mn=F.min("_id"),
    )
    n_corpus = int(stats["n"] or 0)
    if stats["mn"] is not None and stats["mn"] < 0:
        raise ValueError(
            f"knn_store ids must be non-negative (got min {id_col}="
            f"{stats['mn']}): the store's bucket layout and the "
            "componente=min(vec_id) labeling both assume it"
        )
    # zero assigned vectors from a non-empty corpus means no centroid
    # took any (e.g. an empty centroid frame): n_corpus=0 would
    # silently collapse the bucket widths. The emptiness probe is one
    # job, paid only on this path.
    if n_corpus == 0 and not emb_corpus.isEmpty():
        raise ValueError(
            "knn_store assigned no corpus vector to a centroid (empty "
            "centroid frame?): bucket widths would collapse to n_corpus=0"
        )
    members, probes, edges = _stores(spark, store_dir)
    nb = (
        int(edge_buckets)
        if edge_buckets is not None
        else edge_bucket_count(n_corpus)
    )
    # cid buckets follow the same ~NODES_PER_BUCKET sizing rule (see
    # _stores): directory count stays corpus-proportional-bounded
    # instead of centroid-proportional
    ncb = nb
    # the three tables are independent projections of the checkpointed
    # assignment — overlap the two trivial writes with the heavy
    # candidate-join/topk write (guide §2.6)
    from agrobr_spark.session import run_concurrently

    run_concurrently(
        spark,
        lambda: members.overwrite(_member_rows(ranked, ncb)),
        lambda: probes.overwrite(_probe_rows(ranked, ncb)),
        lambda: edges.overwrite(
            _topk_edges(
                _candidates(
                    _probe_rows(ranked, ncb), _member_rows(ranked, ncb)
                ),
                k,
                nb,
            )
        ),
    )
    from agrobr_spark.store.fs import write_text

    write_text(spark, f"{store_dir}/meta.json", json.dumps(
        {"edge_buckets": nb, "cid_buckets": ncb}
    ))


def update_knn_graph_frame(
    spark: SparkSession,
    emb_b: DataFrame,
    store_dir: str,
    k: int,
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fold a batch of NEW vectors into the persisted graph, touching
    only affected nodes (module docstring, facts 1–2):

    - assign the batch against the FROZEN centroids (broadcast);
    - affected existing nodes = probe rows of the batch's touched
      home clusters (partition-pruned read of ``probes/``);
    - new candidates = (old probes × new members) ∪ (new probes ×
      old members of the batch's probe clusters, partition-pruned)
      ∪ (new probes × new members);
    - re-rank affected nodes over (their current edges ∪ new
      candidates) — insert-only top-k folding;
    - MERGE edges / members / probes back (PK-idempotent, partition-
      pruned rewrites).

    Returns the affected nodes' new edge rows. Replays are no-ops by
    construction (pair-key dedupe + PK merges)."""
    members, probes, edges = _stores(spark, store_dir)
    meta = _read_meta(spark, store_dir)
    if "cid_buckets" not in meta:
        # no quiet fallback: a pre-cid-bucketing store has members/
        # probes partitioned on raw cid and NO cbalde column — any
        # guessed bucket count would die later with an unresolved-
        # column error that hides the real cause (r11 review);
        # ValueError like the store's other validation failures, so
        # one except clause catches them all (r11 ADVICE)
        raise ValueError(
            f"knn_store at {store_dir!r} predates the cbalde layout "
            "(meta lacks 'cid_buckets'); rebuild it with "
            "build_knn_graph_index"
        )
    ncb = int(meta["cid_buckets"])
    if emb_b.isEmpty():
        # EMPTY batch, decided before ANY fold machinery runs (r14):
        # one limit-1 probe of the batch frame replaces the centroid
        # read + broadcast + assignment stages the empty path still
        # paid (measured ~0.6-0.8 s/epoch; watermark-advance and
        # replayed-empty epochs are routine at 100 TB). The returned
        # frame is a true empty local relation with the exact edge
        # schema, so downstream folds collapse through
        # PropagateEmptyRelation instead of executing empty plans.
        # Non-empty folds pay one cheap limit-1 scan of the batch.
        from pyspark.sql import types as T

        id_type = emb_b.schema[id_col].dataType
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("balde", T.IntegerType()),
                    T.StructField("vec_id", id_type),
                    T.StructField("neighbor_id", id_type),
                    T.StructField("posicao", T.IntegerType()),
                    T.StructField("cosseno", T.DoubleType()),
                ]
            ),
        )
    cent = read_parquet(spark, f"{store_dir}/centroids")
    # the legs below read the very stores the MERGEs rewrite — sever
    # ONCE at the assignment (r13: members_new and probes_new were
    # checkpointed separately, running the assignment twice and paying
    # two materialization jobs; both are now cheap projections of the
    # one checkpointed frame). Touched home clusters, probed clusters,
    # batch sizes and the id-sign guard ride the checkpoint's own job
    # as observed metrics (the merges below receive these counts and
    # partition lists precomputed): no aggregate job over the pin.
    ranked, bstats = pin(
        assign_to_centroids(_base(emb_b, id_col, vec_col), cent, 6, n_probe),
        home_cids=F.collect_set(F.when(F.col("_rn") == 1, F.col("_blk"))),
        probe_cids=F.collect_set("_blk"),
        n_members=F.sum((F.col("_rn") == 1).cast("long")),
        n_probes=F.count(F.lit(1)),
        mn=F.min("_id"),
    )
    members_new = _member_rows(ranked, ncb)
    probes_new = _probe_rows(ranked, ncb)
    touched = list(bstats["home_cids"])
    if bstats["mn"] is not None and bstats["mn"] < 0:
        raise ValueError(
            f"knn_store ids must be non-negative (got min vec_id="
            f"{bstats['mn']} in the batch): the store's bucket layout "
            "and the componente=min(vec_id) labeling both assume it"
        )
    if not bstats["n_probes"]:
        # EMPTY batch — a replayed epoch or a trigger that delivered
        # zero rows (at 100 TB, watermark-advance epochs do exactly
        # this). Every leg below is empty by construction and all
        # three merges would no-op, but each still costs checkpoint /
        # aggregate / commit-probe jobs: return the empty edge frame
        # instead. Costs nothing extra when the batch has rows —
        # n_probes rides the assignment pin.
        return _topk_edges(
            _candidates(probes_new, members_new),
            k,
            int(meta["edge_buckets"]),
        ).limit(0)
    probe_cids = list(bstats["probe_cids"])
    # cbalde first (partition pruning at the bucketed width), the cid
    # predicate second (row filter inside the ~256-node buckets)
    probes_old = probes.read().filter(
        F.col("cbalde").isin([c % ncb for c in touched])
        & F.col("cid").isin(touched)
    )
    members_old = members.read().filter(
        F.col("cbalde").isin([c % ncb for c in probe_cids])
        & F.col("cid").isin(probe_cids)
    )

    cands = (
        _candidates(probes_old, members_new)
        .unionByName(_candidates(probes_new, members_old))
        .unionByName(_candidates(probes_new, members_new))
    )
    # lazy: the _pruned_by_ids bucket collect below is the first
    # action and doubles as the materialization (r14, VERDICT #7)
    affected = (
        probes_old.select("vec_id")
        .unionByName(probes_new.select("vec_id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # prune the edge read to the affected nodes' BUCKETS first (the
    # shared _pruned_by_ids idiom — partition-pruned scan at the
    # store's manifest-frozen width, then the exact id semi-join);
    # with buckets scaled to NODES_PER_BUCKET the volume read and
    # rewritten per batch is corpus-independent
    nb = int(meta["edge_buckets"])
    current = _pruned_by_ids(edges.read(), affected, nb).select(
        "vec_id", "neighbor_id", "cosseno"
    )
    # the edge merge's staging count + partition list ride the edge
    # frame's eager checkpoint as observed metrics; the checkpoint
    # severs the plan from the stores the merges rewrite BEFORE any
    # merge starts
    new_edges, estats = pin(
        _topk_edges(cands.unionByName(current), k, nb),
        n=F.count(F.lit(1)),
        baldes=F.collect_set("balde"),
    )
    # the three merges rewrite three INDEPENDENT stores from
    # projections of already-checkpointed frames — submit them from a
    # thread pool so the later merges' tasks back-fill the earlier
    # ones' commit tails (guide §2.6; merge_upsert's dynamic
    # overwrite is a per-writer option, so no shared session state)
    from agrobr_spark.session import run_concurrently

    run_concurrently(
        spark,
        lambda: edges.merge_upsert(
            new_edges,
            staged_count=int(estats["n"]),
            staging_partitions=list(estats["baldes"]),
        ),
        lambda: members.merge_upsert(
            members_new,
            staged_count=int(bstats["n_members"] or 0),
            staging_partitions=sorted({c % ncb for c in touched}),
        ),
        lambda: probes.merge_upsert(
            probes_new,
            staged_count=int(bstats["n_probes"] or 0),
            staging_partitions=sorted({c % ncb for c in probe_cids}),
        ),
    )
    return new_edges


def read_knn_graph(spark: SparkSession, store_dir: str) -> DataFrame:
    """The current graph: (vec_id, neighbor_id, posicao, cosseno)."""
    _, _, edges = _stores(spark, store_dir)
    return edges.read().select(
        "vec_id", "neighbor_id", "posicao", "cosseno"
    )


# -- incremental cluster labels over the maintained graph -------------
#
# Components over the MUTUAL-kNN edges (the `sim_graph_clusters`
# semantics), maintained alongside the edge store so the iterative
# consumer is incremental too. The mutual graph is NOT merge-only
# under edge-store updates: a batch can CREATE mutuality (merging two
# components — possibly via a one-sided change, when the reverse edge
# already existed on an untouched node) and can EVICT a neighbor out
# of a top-k (splitting a component). Both cases are handled by one
# rule: recompute, from the CURRENT edges, exactly the components
# that could have changed —
#
#   seeds   = changed nodes ∪ endpoints of candidate mutual edges
#             incident to changed nodes (catches the one-sided merge)
#   touched = the seeds' current component ids
#   S       = all members of touched components ∪ new nodes
#
# Every mutual edge incident to S stays inside S (an old edge's other
# endpoint shares the component; a new edge has a changed endpoint,
# and its other endpoint is a seed), so components of the S-induced
# subgraph are exactly the global components of those nodes, and
# untouched components — whose edge sets are untouched by definition
# — keep their labels verbatim. Per-batch cost is proportional to the
# touched components' size, not the graph.


def _labels_store(spark: SparkSession, store_dir: str) -> ParquetStore:
    # balde-partitioned like the edge table: an UNpartitioned PK store
    # rewrites the whole table on every merge_upsert (O(corpus) write
    # per micro-batch — the scale bug the r11 probe pass flushed out);
    # bucketed, the per-fold label write rewrites only the touched
    # members' buckets
    return ParquetStore(
        spark, f"{store_dir}/labels", ("vec_id",), partition_col="balde"
    )


def _with_balde(df: DataFrame, nb: int) -> DataFrame:
    return df.withColumn(
        "balde", F.pmod(F.col("vec_id"), F.lit(int(nb))).cast("int")
    )


def _comp_labels_store(spark: SparkSession, store_dir: str) -> ParquetStore:
    # componente-keyed SECONDARY layout of the labels table: same
    # (vec_id, componente) rows, partitioned on the COMPONENT hash so
    # the fold's members-of-touched-components read partition-prunes
    # instead of scanning the corpus (r11 SCALING: "a componente-keyed
    # secondary index is the 100 TB answer if it ever dominates" — at
    # 40x the labels full-scan was the label fold's last corpus-growing
    # read, so here it is). PK stays vec_id: a relabel MOVES the row
    # between cbalde partitions, which the merge handles via
    # extra_partitions (the old bucket joins the dedup).
    return ParquetStore(
        spark,
        f"{store_dir}/labels_by_comp",
        ("vec_id",),
        partition_col="cbalde",
    )


def _with_cbalde(df: DataFrame, nb: int) -> DataFrame:
    return df.withColumn(
        "cbalde", F.pmod(F.col("componente"), F.lit(int(nb))).cast("int")
    )


def _pruned_by_ids(table: DataFrame, ids: DataFrame, nb: int) -> DataFrame:
    """Balde-pruned, id-semi-joined read of a vec_id-bucketed table:
    collect the ids' bucket set (<= nb values, a bounded driver list),
    prune partitions on it, THEN the exact broadcast semi join. This
    is THE fold-leg read idiom — edge legs, label legs, rank legs and
    both delta-merge old sides all go through this one implementation
    so the pruning cannot drift between folds (r11 review: the
    pattern had been hand-copied per fold, and two delta legs had
    quietly shipped without it, full-scanning their store per batch)."""
    bkts = [
        r["b"]
        for r in ids.select(
            F.pmod(F.col("vec_id"), F.lit(int(nb))).cast("int").alias("b")
        )
        .distinct()
        .collect()
    ]
    return table.filter(F.col("balde").isin(bkts)).join(
        F.broadcast(ids.select("vec_id")), "vec_id", "semi"
    )


def _mutual_pairs(side_a: DataFrame, side_b: DataFrame) -> DataFrame:
    """Canonical (va < vb) mutual pairs between two edge frames:
    (a→b) in side_a with (b→a) in side_b."""
    a = side_a.select(
        F.col("vec_id").alias("va"), F.col("neighbor_id").alias("vb")
    )
    b = side_b.select(
        F.col("vec_id").alias("rb"), F.col("neighbor_id").alias("ra")
    )
    return (
        a.join(b, (a["va"] == b["ra"]) & (a["vb"] == b["rb"]))
        .select(
            F.least("va", "vb").alias("va"),
            F.greatest("va", "vb").alias("vb"),
        )
        .distinct()
    )


def build_graph_labels(
    spark: SparkSession,
    store_dir: str,
    node_ids: DataFrame,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Initial labels: components over the corpus graph's mutual
    edges, singletons labeled by their own id. ``node_ids`` is a
    (vec_id) frame of every corpus vector (singletons included).
    ``scratch_dir``: per-round component-label tables land here — on
    a non-local master pass a SHARED filesystem path (the
    connected_components contract).

    Returns the checkpointed labels frame — byte-identical to what
    the two layouts persist — so a caller that immediately builds the
    rank store can hand it to :func:`build_graph_pageranks` instead
    of paying a read-back of the table this function just wrote
    (r14)."""
    from agrobr_spark.operators.components import connected_components

    e = read_knn_graph(spark, store_dir).select("vec_id", "neighbor_id")
    mut = _mutual_pairs(e, e)
    comp = connected_components(mut, "va", "vb", scratch_dir=scratch_dir)
    labels = (
        node_ids.select("vec_id")
        .join(comp, node_ids["vec_id"] == comp["id"], "left")
        .select(
            "vec_id",
            F.coalesce("componente", F.col("vec_id")).alias("componente"),
        )
    )
    nb = int(_read_meta(spark, store_dir)["edge_buckets"])
    labels = labels.localCheckpoint(eager=True)
    # a rebuild supersedes any crashed fold's journal — and it must go
    # BEFORE the overwrites: a journal surviving past them (crash in
    # the window below) would silently replay a pre-rebuild delta over
    # the fresh layouts at the next fold, while a crash mid-rebuild
    # with the journal already gone just means rerunning the rebuild
    from agrobr_spark.store.fs import delete_path, resolve_stage

    pending = _pending_delta_dir(store_dir)
    resolve_stage(spark, pending, lambda p: delete_path(spark, p), writer=True)
    # the two layouts are independent projections of the checkpointed
    # labels frame — overlap their overwrites (guide §2.6, the same
    # pattern as the index build's three stores)
    from agrobr_spark.session import run_concurrently

    run_concurrently(
        spark,
        lambda: _labels_store(spark, store_dir).overwrite(
            _with_balde(labels, nb)
        ),
        lambda: _comp_labels_store(spark, store_dir).overwrite(
            _with_cbalde(labels, nb)
        ),
    )
    return labels


def _pending_delta_dir(store_dir: str) -> str:
    return f"{store_dir}/labels_delta_pending"


def _delta_stats(delta: DataFrame, nb: int):
    """ONE aggregate job over the journaled delta yielding everything
    the two layout merges need from the driver: row count, the new
    rows' primary (balde) and secondary (cbalde) partition lists, and
    the moved rows' OLD cbalde buckets (collect_set skips the NULL
    ``_old`` of never-labeled nodes). r12 paid five separate jobs for
    these (two merge counts, two partition listings, one moved_from
    collect) — the dominant fixed per-fold cost at toy scale
    (SCALING.md r12; VERDICT r12 next #3)."""
    nbl = F.lit(int(nb))
    return delta.agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_set(
            F.pmod(F.col("vec_id"), nbl).cast("int")
        ).alias("baldes"),
        F.collect_set(
            F.pmod(F.col("componente"), nbl).cast("int")
        ).alias("cbaldes"),
        F.collect_set(
            F.pmod(F.col("_old"), nbl).cast("int")
        ).alias("moved_from"),
    ).first()


def _apply_label_delta(
    labels: ParquetStore, byc: ParquetStore, delta: DataFrame, nb: int, st
) -> None:
    """MERGE one journaled delta into BOTH label layouts. PK merges
    are idempotent and the moved rows' old cbalde buckets join the
    secondary's dedup via ``extra_partitions``, so re-applying after
    any partial crash converges both layouts to the delta's state —
    which is also why the two merges may run CONCURRENTLY (r13,
    guide §2.6): they rewrite independent tables from the same
    durable journal, and a crash leaving any subset applied is
    repaired identically whether the merges ran in sequence or
    overlapped."""
    from agrobr_spark.session import run_concurrently

    run_concurrently(
        delta.sparkSession,
        lambda: labels.merge_upsert(
            _with_balde(delta.drop("_old"), nb),
            staged_count=st["n"],
            staging_partitions=list(st["baldes"]),
        ),
        lambda: byc.merge_upsert(
            _with_cbalde(delta.drop("_old"), nb),
            extra_partitions=list(st["moved_from"]),
            staged_count=st["n"],
            staging_partitions=list(st["cbaldes"]),
        ),
    )


def _resolve_label_journal(
    labels: ParquetStore, byc: ParquetStore, store_dir: str, nb: int,
    st=None,
) -> None:
    """Commit the label-delta journal through ``store/fs.resolve_stage``:
    a journal with its ``_SUCCESS`` marker is MERGEd into both layouts
    (:func:`_apply_label_delta`), then cleared; a torn one — the fold
    crashed mid-journal, before either merge — is dropped. Every fold
    runs it at entry, where it repairs a crashed fold's journal, and
    again after writing its own journal, with ``st`` its own
    :func:`_delta_stats`. The journal is written BEFORE either merge,
    so whichever subset of the two merges a crash left applied,
    re-applying the SAME delta to both converges them: the stale
    secondary row's old bucket comes from the journal's ``_old``
    column, never from the (possibly already-merged) stores."""
    from agrobr_spark.store.fs import delete_path, resolve_stage

    spark = labels.spark

    def roll_forward(pending: str) -> None:
        delta = read_parquet(spark, pending)
        got = _delta_stats(delta, nb) if st is None else st
        if got["n"]:
            _apply_label_delta(labels, byc, delta, nb, got)
        delete_path(spark, pending)

    resolve_stage(spark, _pending_delta_dir(store_dir), roll_forward,
                  writer=True)


def update_graph_labels_frame(
    spark: SparkSession,
    changed: DataFrame,
    store_dir: str,
    scratch_dir: str | None = None,
    probe: dict | None = None,
) -> DataFrame:
    """Fold a batch's edge changes into the label store. ``changed``
    is a (vec_id) frame of the nodes whose edge rows the preceding
    ``update_knn_graph_frame`` re-ranked (its return value's ids —
    new nodes included). Returns the re-labeled rows.
    ``scratch_dir`` as in :func:`build_graph_labels`.

    Read volume: EVERY edge leg is balde-pruned, including the
    reverse side of the changed-incident mutual check — its rows'
    buckets hash on the neighbor id, which is UNKNOWN before the
    forward leg is read but known after (the changed rows carry their
    neighbor ids), so the reverse leg is a SECOND round-trip pruned
    read keyed on those ids rather than a table scan (r11: previously
    documented as the one unprunable leg; it never was — it just
    needed the sequential dependency). Both LABELS reads are pruned
    too (r12 — previously the fold's last corpus-growing scans): the
    seed→componente lookup is vec_id-keyed, so it rides the shared
    ``_pruned_by_ids`` leg on the primary layout; the
    componente→members read partition-prunes the ``labels_by_comp``
    SECONDARY layout (componente-hash buckets) to the touched
    components' buckets. Every read in this fold now touches a volume
    proportional to the batch's neighborhoods, never the corpus.

    The secondary layout is maintained in the same fold from the same
    delta: a relabel moves its row between cbalde partitions, so the
    old component's bucket joins the merge via ``extra_partitions``
    (stale-row dedup; `store/table.py` merge contract). The two
    layouts' merges are not atomic as a pair, and batch REPLAY cannot
    repair a crash between them — the delta's old side and the
    touched-component list both come from stores the crashed fold
    already half-updated, so a relabel that dissolved a component can
    leave a stale secondary row no replay ever reads again (r12
    VERDICT What's wrong #1, the concrete merge-then-crash trace).
    Instead the fold JOURNALS the checkpointed delta (WITH its
    ``_old`` column) to ``labels_delta_pending/`` before either merge
    and commits it through :func:`_resolve_label_journal`, which
    every fold also runs at entry (tests/test_store_crash.py kills
    the fold at each step).

    ``probe``: optional dict the fold fills with the internals its
    bytes-read probes need verbatim (``touched_components``,
    ``moved_from_buckets``, ``n_delta``) — tools/knn_fold_probe.py
    previously re-derived the touched list from the POST-fold labels,
    misstating the members-leg read volume when a fold dissolved a
    component (r12 ADVICE #3)."""
    from agrobr_spark.operators.components import connected_components

    labels = _labels_store(spark, store_dir)
    byc = _comp_labels_store(spark, store_dir)
    if not byc.exists():
        # loud like the cid_buckets guard: a pre-secondary-index store
        # would otherwise die later with a missing-path read that
        # hides the real cause
        raise ValueError(
            f"knn_store at {store_dir!r} predates the labels_by_comp "
            "secondary layout; rebuild its labels with "
            "build_graph_labels"
        )
    _, _, edges = _stores(spark, store_dir)
    nb = int(_read_meta(spark, store_dir)["edge_buckets"])
    # crash repair FIRST: a journaled delta a crashed fold left behind
    # must land in both layouts before this fold reads either
    _resolve_label_journal(labels, byc, store_dir, nb)
    e_all = edges.read().select("vec_id", "neighbor_id", "balde")
    # lazy checkpoint + isEmpty: the probe is the first action, and
    # under AQE the checkpoint has already run the distinct's shuffle,
    # so the probe is ONE job (a count() was two: its own aggregate
    # adds a stage)
    changed = changed.select("vec_id").distinct().localCheckpoint(eager=False)
    if changed.isEmpty():
        # EMPTY fold input (empty epoch / replay of an empty batch):
        # no seeds, no touched components, no delta — the whole
        # seed/members/journal chain below would be no-op jobs. The
        # crash-repair replay above has already run (its contract is
        # fold START, input or not).
        if probe is not None:
            probe["touched_components"] = []
            probe["moved_from_buckets"] = []
            probe["n_delta"] = 0
        return changed.select(
            "vec_id", F.col("vec_id").alias("componente")
        )

    def pruned_edges_of(ids: DataFrame) -> DataFrame:
        return _pruned_by_ids(e_all, ids, nb).drop("balde")

    # candidate mutual edges incident to changed nodes (current state);
    # the reverse side reads only the buckets of the forward legs'
    # neighbor ids — a bounded (<= |changed| * k) id set. Lazy: the
    # reverse leg's bucket collect is the first action (r14)
    e_changed = pruned_edges_of(changed).localCheckpoint(eager=False)
    e_reverse = pruned_edges_of(
        e_changed.select(F.col("neighbor_id").alias("vec_id")).distinct()
    )
    cand = _mutual_pairs(e_changed, e_reverse)
    seeds = (
        changed.unionByName(cand.select(F.col("va").alias("vec_id")))
        .unionByName(cand.select(F.col("vb").alias("vec_id")))
        .distinct()
    )
    # touched components (new nodes have no label yet — they enter S
    # directly); the id list is bounded by |seeds|, and the lookup is
    # balde-pruned like every other vec_id-keyed leg (r12: this was a
    # full labels scan)
    lab = labels.read()
    touched = [
        r["componente"]
        for r in _pruned_by_ids(lab, seeds, nb)
        .select("componente")
        .distinct()
        .collect()
    ]
    # members of touched components: partition-pruned on the
    # componente-hash buckets of the SECONDARY layout, exact filter on
    # the bounded touched list behind the pruning. Kept WITH their
    # labels: this frame doubles as the delta compare's old side below
    # (a changed node that has a label is a member of a touched
    # component by construction, so members ≡ the current labels of
    # s_nodes — re-reading the primary for the old side would be a
    # second pruned read of the same rows)
    # members and s_nodes checkpoint LAZILY: the S-edge leg's bucket
    # collect materializes both in one job (r14, VERDICT #7)
    members = (
        byc.read()
        .filter(F.col("cbalde").isin([c % nb for c in touched]))
        .filter(F.col("componente").isin(touched))
        .select("vec_id", "componente")
        .localCheckpoint(eager=False)
    )
    s_nodes = (
        members.select("vec_id")
        .unionByName(changed)
        .distinct()
        .localCheckpoint(eager=False)
    )
    e_s = pruned_edges_of(s_nodes)
    mut_s = _mutual_pairs(e_s, e_s)
    comp = connected_components(mut_s, "va", "vb", scratch_dir=scratch_dir)
    # lazy: the journal write below is the first action over this
    # frame — one job materializes the relabeling AND makes the delta
    # durable (r14, VERDICT #7)
    relabeled = (
        s_nodes.join(comp, s_nodes["vec_id"] == comp["id"], "left")
        .select(
            "vec_id",
            F.coalesce("componente", F.col("vec_id")).alias("componente"),
        )
        .localCheckpoint(eager=False)
    )
    # MERGE only the rows whose label actually CHANGED: most touched-
    # component members keep their label verbatim, so the delta filter
    # collapses the write (and its per-bucket commit cost) to the true
    # merge/split frontier — and makes a replay's merge an EMPTY
    # no-op rather than a byte-identical rewrite. The old side is the
    # checkpointed members frame — zero additional store reads (r11:
    # this leg re-scanned the labels table per fold; r12: it is the
    # rows already fetched for S)
    old = members.select("vec_id", F.col("componente").alias("_old"))
    delta_plan = (
        relabeled.join(old, "vec_id", "left")
        .filter(
            F.col("_old").isNull()
            | (F.col("_old") != F.col("componente"))
        )
        .select("vec_id", "componente", "_old")
    )
    # the JOURNAL write doubles as the delta's checkpoint: one job
    # both severs the plan from the stores the merges rewrite AND
    # makes the delta durable before the first merge (crash contract
    # above). Everything the two merges need from the driver —
    # counts, both layouts' partition lists, the moved rows' old
    # buckets — comes out of ONE aggregate over the journaled frame
    # (r12 paid five jobs for the same facts; VERDICT r12 next #3).
    st = _delta_stats(
        checkpoint_parquet(delta_plan, _pending_delta_dir(store_dir)), nb
    )
    if probe is not None:
        probe["touched_components"] = list(touched)
        probe["moved_from_buckets"] = sorted(st["moved_from"])
        probe["n_delta"] = int(st["n"])
    # the same commit as the crash repair at entry; an empty delta (a
    # replayed batch, or one that moved no label) skips both merges —
    # the replay no-op path costs the journal write + one aggregate
    _resolve_label_journal(labels, byc, store_dir, nb, st)
    return relabeled


def read_graph_clusters(spark: SparkSession, store_dir: str) -> DataFrame:
    """Current cluster labels with component sizes — the
    `sim_graph_clusters` output shape (vec_id, grupo, tamanho)."""
    lab = _labels_store(spark, store_dir).read()
    w = Window.partitionBy("grupo")
    return lab.select(
        "vec_id", F.col("componente").alias("grupo")
    ).withColumn("tamanho", F.count(F.lit(1)).over(w))


# -- incremental per-component PageRank over the maintained labels ----
#
# The last rebuild-only iterative consumer (r10 VERDICT next #1).
# Within-cluster PageRank (`queries/similarity.py:
# graph_pagerank_components`) decomposes EXACTLY per component —
# every induced edge stays inside one label, so a node's fixed-
# iteration trajectory depends only on its own component's members
# (`operators/pagerank.py` module docstring carries the argument).
# That makes the maintained path trivial to state: after an edge fold
# and its label fold, re-run the loop ONLY over the touched
# components' membership (exactly `update_graph_labels_frame`'s
# return value) against their induced edges, and MERGE; every other
# node's rank is byte-identically unchanged. Global PageRank does NOT
# decompose (dangling quota / cross-component one-way edges), which
# is why `graph_pagerank` / `_redistributed` stay rebuild-only —
# the documented bound, not an omission.


def _pranks_store(spark: SparkSession, store_dir: str) -> ParquetStore:
    # balde-partitioned for the same reason as the labels store: the
    # per-fold rank MERGE must rewrite only the touched members'
    # buckets, never the corpus
    return ParquetStore(
        spark, f"{store_dir}/pranks", ("vec_id",), partition_col="balde"
    )


def _component_pageranks(
    labeled: DataFrame, edges: DataFrame
) -> DataFrame:
    """Per-component micro-mass PageRank for ``labeled`` (vec_id,
    componente) nodes over ``edges`` (vec_id, neighbor_id) restricted
    to same-label pairs. Edges whose dst is outside ``labeled`` drop
    out of the induced set by the label join — safe exactly because
    components are always passed WHOLE (build: the corpus; update:
    every member of every touched component)."""
    from agrobr_spark.operators.pagerank import (
        induced_edges,
        pagerank_mass,
    )

    labels = labeled.select(
        "vec_id", F.col("componente").alias("grupo")
    ).localCheckpoint(eager=True)
    ranks = pagerank_mass(
        labels.select("vec_id"), induced_edges(edges, labels)
    )
    return labels.join(ranks, "vec_id").select(
        "vec_id",
        F.col("grupo").alias("componente"),
        "pontuacao",
    )


def build_graph_pageranks(
    spark: SparkSession, store_dir: str, labels: DataFrame | None = None
) -> None:
    """Initial ranks: the per-component loop over the store's current
    edges and labels (`build_graph_labels` must have run).

    ``labels``: the checkpointed frame `build_graph_labels` returned,
    when the caller just built it — skips re-reading the labels table
    this session wrote seconds ago (r14; identical rows by
    construction, the frame IS what both layouts persisted)."""
    lab = (
        labels
        if labels is not None
        else _labels_store(spark, store_dir).read()
    )
    e = read_knn_graph(spark, store_dir).select("vec_id", "neighbor_id")
    nb = int(_read_meta(spark, store_dir)["edge_buckets"])
    _pranks_store(spark, store_dir).overwrite(
        _with_balde(_component_pageranks(lab, e), nb)
    )


def update_graph_pageranks_frame(
    spark: SparkSession,
    relabeled: DataFrame,
    store_dir: str,
) -> DataFrame:
    """Fold a batch's label changes into the rank store. ``relabeled``
    is `update_graph_labels_frame`'s return value — (vec_id,
    componente) for EVERY member of every touched component (old and
    new boundaries), the exact node set whose induced subgraphs can
    have changed. Re-runs the fixed-iteration loop over only those
    nodes and MERGEs; untouched components keep their ranks verbatim
    (exact by the per-component decomposition). Returns the re-ranked
    rows.

    Read volume: one balde-pruned, id-semi-joined edge read plus one
    equally pruned old-ranks read for the delta compare (both via
    `_pruned_by_ids`) + the loop over |touched| rows — a batch
    re-ranks its semantic neighborhoods, never the corpus.
    Replay-idempotent: same labels + same edges → the same
    deterministic trajectory, and the MERGE is PK-last-writer-wins."""
    # lazy checkpoint + isEmpty: ONE job for the empty-fold probe
    # (a count() on a non-empty frame was two)
    relabeled = relabeled.select(
        "vec_id", "componente"
    ).localCheckpoint(eager=False)
    if relabeled.isEmpty():
        # EMPTY relabel set: no component's induced subgraph changed,
        # so the fixed-iteration loop, the delta compare and the
        # merge are all no-ops — skip their jobs (empty epochs and
        # replays hit this path)
        return relabeled.select(
            "vec_id", "componente", F.lit(0.0).alias("pontuacao")
        )
    _, _, edges = _stores(spark, store_dir)
    nb = int(_read_meta(spark, store_dir)["edge_buckets"])
    ids = relabeled.select("vec_id")
    e_s = _pruned_by_ids(edges.read(), ids, nb).select(
        "vec_id", "neighbor_id"
    )
    # lazy: the merge's first action materializes the re-ranked frame
    # (into an existing partitioned store that is its grouped staging
    # count, run before the table is read or written; into a new store
    # it is the one staged write)
    ranked = _component_pageranks(relabeled, e_s).localCheckpoint(
        eager=False
    )
    # delta-merge like the label fold: only rows whose (componente,
    # pontuacao) actually changed are written — a replayed batch's
    # merge is EMPTY, and a fold that leaves a component's trajectory
    # untouched writes none of its buckets
    # old side balde-pruned to the re-ranked set's buckets — the
    # delta compare must read its neighborhoods, never the corpus
    # (r11 review: this leg full-scanned the pranks table per fold)
    pranks = _pranks_store(spark, store_dir)
    old = _pruned_by_ids(pranks.read(), ids, nb).select(
        "vec_id",
        F.col("componente").alias("_oc"),
        F.col("pontuacao").alias("_op"),
    )
    delta = (
        ranked.join(old, "vec_id", "left")
        .filter(
            F.col("_oc").isNull()
            | (F.col("_oc") != F.col("componente"))
            | (F.col("_op") != F.col("pontuacao"))
        )
        .select("vec_id", "componente", "pontuacao")
    )
    pranks.merge_upsert(_with_balde(delta, nb))
    return ranked


def read_graph_pageranks(
    spark: SparkSession, store_dir: str
) -> DataFrame:
    """Current per-component ranks — the `graph_pagerank_components`
    output shape (vec_id, grupo, pontuacao)."""
    return _pranks_store(spark, store_dir).read().select(
        "vec_id", F.col("componente").alias("grupo"), "pontuacao"
    )
