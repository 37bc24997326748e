"""Composite operators: as-of join, multimodal pipelines."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

from agrobr_spark.operators import asof_join, decode_features, frame_sample
from tests.conftest import SF_SMOKE


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            ("soja", dt.date(2024, 1, 5), 1),
            ("soja", dt.date(2024, 1, 10), 2),
            ("soja", dt.date(2023, 12, 1), 3),   # before any price -> NULL
            ("milho", dt.date(2024, 1, 10), 4),  # key with no prices -> NULL
        ],
        "produto string, data date, id int",
    )
    right = spark.createDataFrame(
        [
            ("soja", dt.date(2024, 1, 1), 100.0),
            ("soja", dt.date(2024, 1, 10), 110.0),  # same-day row matches
        ],
        "produto string, data date, preco double",
    )
    out = {r["id"]: r["preco"] for r in asof_join(left, right, "produto", "data").collect()}
    assert out == {1: 100.0, 2: 110.0, 3: None, 4: None}


def test_asof_join_null_payload_carry(spark):
    """A matched right row whose payload column is legitimately NULL
    must be carried as NULL — not skipped in favour of an older row —
    and multi-column payloads must all come from the SAME right row."""
    left = spark.createDataFrame(
        [("soja", dt.date(2024, 1, 15), 1)],
        "produto string, data date, id int",
    )
    right = spark.createDataFrame(
        [
            ("soja", dt.date(2024, 1, 1), 100.0, "cepea"),
            # newest match: preco legitimately NULL, fonte present
            ("soja", dt.date(2024, 1, 10), None, "na"),
        ],
        "produto string, data date, preco double, fonte string",
    )
    row = asof_join(
        left, right, "produto", "data", right_cols=["preco", "fonte"]
    ).collect()[0]
    # both columns from the 2024-01-10 row: NULL preco preserved,
    # fonte not mixed in from the older 2024-01-01 row
    assert row["preco"] is None
    assert row["fonte"] == "na"


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [("soja", dt.date(2024, 3, 1), 1)], "produto string, data date, id int"
    )
    right = spark.createDataFrame(
        [("soja", dt.date(2024, 1, 1), 100.0)], "produto string, data date, preco double"
    )
    strict = asof_join(left, right, "produto", "data", tolerance_days=30).collect()
    loose = asof_join(left, right, "produto", "data", tolerance_days=90).collect()
    assert strict[0]["preco"] is None  # 60 days old > 30-day tolerance
    assert loose[0]["preco"] == 100.0


def _media(spark):
    return spark.createDataFrame(
        [
            (1, "image", bytearray(b"fake-png-bytes"), "image/png"),
            (2, "audio", bytearray(b"fake-wav-bytes"), "audio/wav"),
            (3, "video", bytearray(b"fake-mp4-bytes"), "video/mp4"),
        ],
        "media_id long, kind string, payload binary, mime string",
    )


def test_decode_features_deterministic(spark):
    rows = {r["media_id"]: r for r in decode_features(_media(spark)).collect()}
    assert rows[1]["width"] is not None and rows[1]["duration_s"] is None
    assert rows[2]["width"] is None and rows[2]["duration_s"] is not None
    assert rows[3]["width"] is not None and rows[3]["duration_s"] is not None
    assert all(len(r["feature"]) == 8 for r in rows.values())
    # deterministic across runs (stub keyed on payload digest)
    again = {r["media_id"]: r for r in decode_features(_media(spark)).collect()}
    assert rows[1]["sha16"] == again[1]["sha16"]
    assert rows[1]["width"] == again[1]["width"]


def test_frame_sample_plumbing(spark):
    frames = frame_sample(_media(spark), every_s=2.0).collect()
    assert all(r["media_id"] == 3 for r in frames)  # only video
    assert [r["frame_idx"] for r in frames] == sorted(r["frame_idx"] for r in frames)
    assert all(r["frame_ts_s"] == r["frame_idx"] * 2.0 for r in frames)


def test_approx_count_distinct_within_tolerance(spark):
    """Scale path for A10/nunique: HLL approx distinct must land within
    5% of exact on the events table (the exact groupBy-distinct stays
    the correctness oracle; approx is the 100 TB variant)."""
    from agrobr_spark.io import load

    e = load(spark, SF_SMOKE, "events")
    row = e.agg(
        F.countDistinct("user_id").alias("exato"),
        F.approx_count_distinct("user_id", 0.02).alias("aprox"),
    ).collect()[0]
    assert abs(row["aprox"] - row["exato"]) / row["exato"] < 0.05


def test_range_join_matches_naive(spark):
    """Bucketized range join must equal the naive theta-join result,
    including intervals that straddle bucket boundaries."""
    from agrobr_spark.operators.range_join import range_join

    pts = spark.createDataFrame(
        [(i, i * 3 % 50) for i in range(200)], "pid int, x long"
    )
    ivs = spark.createDataFrame(
        [(1, 0, 7), (2, 5, 21), (3, 21, 28), (4, 48, 49), (5, 10, 10)],
        "iid int, ini long, fim long",
    )
    naive = pts.join(
        ivs, (pts.x >= ivs.ini) & (pts.x < ivs.fim)
    ).select("pid", "iid")
    fast = range_join(pts, ivs, "x", "ini", "fim", bucket_width=7).select(
        "pid", "iid"
    )
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, naive.collect()))


def test_ivf_ann_recall_vs_brute_force(spark):
    """IVF ANN must agree with the exact brute-force top-k on most
    neighbors (recall@10): semantic check that cluster pruning returns
    real neighbors, not merely deterministic rows (VERDICT r2 #2)."""
    from agrobr_spark.queries.similarity import sim_cosine_topk, sim_ivf_ann

    sf_dir = "/root/testdata/sf0.001"
    exact = sim_cosine_topk(spark, sf_dir).collect()
    approx = sim_ivf_ann(spark, sf_dir).collect()
    truth: dict[int, set] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    got: dict[int, set] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    assert set(got) == set(truth)  # every query answered
    recalls = [len(truth[q] & got[q]) / len(truth[q]) for q in truth]
    mean_recall = sum(recalls) / len(recalls)
    # top-2-probe IVF on 10 coarse centroids: most true neighbors must
    # be found on the fixed corpus (deterministic; VERDICT r3 #4)
    assert mean_recall >= 0.8, f"recall@10 too low: {recalls}"


def test_cluster_pairs_skew_cap_bounds_and_preserves_results(spark):
    """Skew cap (VERDICT r3 #3): a 90%-one-cluster corpus must not put
    all pair work on one join key. Sub-splitting (a) leaves the result
    set EXACTLY unchanged vs the uncapped join, and (b) bounds rows per
    (cluster, sub-block) at the cap."""
    import random

    from agrobr_spark.operators.allpairs import (
        _with_subblocks,
        cluster_cosine_pairs,
    )

    rng = random.Random(7)
    rows = []
    # 90 near-identical vectors -> all land in one cluster; 10 scattered
    for i in range(100):
        if i % 10 != 0:
            v = [1.0 + rng.uniform(-0.01, 0.01), 0.1, 0.1]
        else:
            v = [rng.uniform(-1, 1) for _ in range(3)]
        rows.append((i, f"d{i}", [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )

    kw = dict(
        id_col="vec_id", vec_col="embedding", threshold=0.9,
        n_centroids=4, extra_cols=("label",),
    )
    capped = cluster_cosine_pairs(df, max_cluster_rows=16, **kw)
    uncapped = cluster_cosine_pairs(df, max_cluster_rows=1_000_000, **kw)
    got = sorted(map(tuple, capped.collect()))
    want = sorted(map(tuple, uncapped.collect()))
    assert got == want and len(want) > 1000  # dense cluster -> many pairs
    # 100 assigned rows over a cap of 16: the capped run joins the
    # cluster sizes; under the cap no cluster can exceed it, so the
    # uncapped run skips the size aggregate
    def joins_sizes(pairs):
        return "_cnt" in pairs._jdf.queryExecution().analyzed().toString()

    assert joins_sizes(capped) and not joins_sizes(uncapped)

    # boundedness: no (cluster, sub-block) exceeds the cap — the id
    # space here is gappy (every 10th id missing), which breaks naive
    # id-mod sub-blocking; hashed dispersion with 2x headroom holds
    assigned = spark.createDataFrame(
        [(i, 0 if i % 10 != 0 else 1) for i in range(100)], "_id long, _blk int"
    )
    sub = _with_subblocks(assigned, max_cluster_rows=16)
    per_key = sub.groupBy("_blk", "_sb").count().collect()
    assert max(r["count"] for r in per_key) <= 16
    # the 90-row cluster splits into ceil(2*90/16)=12 sub-blocks;
    # the 10-row cluster stays whole (_nb=1, plan identical to uncapped)
    assert {r["_nb"] for r in sub.filter("_blk = 0").collect()} == {12}
    assert {r["_nb"] for r in sub.filter("_blk = 1").collect()} == {1}

    # the pair stage stays an equi-join: no cartesian/nested-loop
    # corpus x corpus product even with sub-splitting active
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def _ranked_by_window(base, cent, n_probe):
    """Reference centroid ranking: a crossJoin of every (vector,
    centroid) score and a per-id ``row_number`` window."""
    from pyspark.sql import Window

    from agrobr_spark.operators.allpairs import _dot

    cent = cent.withColumn("_cnrm", F.sqrt(_dot("_cv", "_cv")))
    cos = F.round(
        _dot("_cv", "_vec") / F.nullif(F.col("_cnrm") * F.col("_norm"), F.lit(0.0)),
        6,
    )
    w = Window.partitionBy("_id").orderBy(F.col("_cos").desc(), "_blk")
    return (
        base.crossJoin(cent)
        .select("_id", F.col("_cid").alias("_blk"), cos.alias("_cos"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_probe)
    )


def test_assign_to_centroids_matches_window_ranking(spark):
    """The shuffle-free assignment keeps exactly the rows a crossJoin +
    row_number ranking keeps: tied rounded cosines break on the lower
    centroid id, a zero-norm vector's null scores rank last, n_probe
    past the centroid count keeps every centroid, an empty centroid
    table assigns nothing — and the sf0.001 corpus ranks identically."""
    from agrobr_spark.io import load
    from agrobr_spark.operators.allpairs import _dot, assign_to_centroids

    def base_of(df):
        return df.withColumn("_norm", F.sqrt(_dot("_vec", "_vec")))

    def rows(df, score):
        return sorted(
            (r["_id"], r["_blk"], r["_rn"], r[score])
            for r in df.select("_id", "_blk", "_rn", score).collect()
        )

    base = base_of(
        spark.createDataFrame(
            [
                (1, [1.0, 1.0]),  # cos 0.707107 to both axes: tie
                (2, [0.0, 0.0]),  # zero norm: every score null
                (3, [1.0, 0.2]),
                (4, [-1.0, 0.5]),
            ],
            "_id long, _vec array<double>",
        )
    )
    # listed out of id order so the tie-break, not arrival, decides
    cent = spark.createDataFrame(
        [(7, [1.0, 0.0]), (3, [0.0, 1.0]), (5, [0.0, 2.0])],
        "_cid long, _cv array<double>",
    )
    for n_probe in (1, 2, 5):
        got = rows(assign_to_centroids(base, cent, 6, n_probe), "_cos_cent")
        want = rows(_ranked_by_window(base, cent, n_probe), "_cos")
        assert got == want, (n_probe, got, want)
    # the tie: both axes score 0.707107 for id 1, centroid 3 wins
    assert (1, 3, 1, 0.707107) in got and (1, 5, 2, 0.707107) in got
    assert [r for r in got if r[0] == 2] == [
        (2, 3, 1, None), (2, 5, 2, None), (2, 7, 3, None)
    ]
    probes = {
        r["_id"]: r["_probes"]
        for r in assign_to_centroids(base, cent, 6, 2).collect()
    }
    assert probes[1] == [3, 5] and probes[2] == [3, 5]

    empty = spark.createDataFrame([], "_cid long, _cv array<double>")
    assert assign_to_centroids(base, empty, 6, 2).count() == 0
    assert _ranked_by_window(base, empty, 2).count() == 0

    corpus = base_of(
        load(spark, SF_SMOKE, "embeddings").select(
            F.col("vec_id").alias("_id"), F.col("embedding").alias("_vec")
        )
    )
    cent = corpus.filter(F.col("_id") < 8).select(
        F.col("_id").alias("_cid"), F.col("_vec").alias("_cv")
    )
    assert rows(assign_to_centroids(corpus, cent, 6, 2), "_cos_cent") == rows(
        _ranked_by_window(corpus, cent, 2), "_cos"
    )


def test_multiprobe_cluster_pairs_are_exact_and_unique(spark):
    """With n_probe=2 a pair meets in every probed cluster it shares;
    only its lowest shared cluster scores it, so no (id_a, id_b)
    repeats, and the pairs are exactly the exact all-pairs answer
    restricted to pairs that share a probed cluster."""
    from agrobr_spark.io import load
    from agrobr_spark.operators.allpairs import (
        _dot,
        assign_to_centroids,
        block_cosine_pairs,
        cluster_cosine_pairs,
    )

    e = load(spark, SF_SMOKE, "embeddings")
    kw = dict(id_col="vec_id", vec_col="embedding", threshold=0.3)
    got = [
        (r.id_a, r.id_b, r.cosseno)
        for r in cluster_cosine_pairs(
            e, n_centroids=6, centroid_fit="lowest_id", n_probe=2, **kw
        ).collect()
    ]
    assert got and len(got) == len({(a, b) for a, b, _ in got})

    base = e.select(
        F.col("vec_id").alias("_id"), F.col("embedding").alias("_vec")
    ).withColumn("_norm", F.sqrt(_dot("_vec", "_vec")))
    cent = base.orderBy("_id").limit(6).select(
        F.col("_id").alias("_cid"), F.col("_vec").alias("_cv")
    )
    probes = {
        r["_id"]: set(r["_probes"])
        for r in assign_to_centroids(base, cent, 6, 2)
        .filter("_rn = 1")
        .collect()
    }
    want = [
        (r.id_a, r.id_b, r.cosseno)
        for r in block_cosine_pairs(e, **kw).collect()
        if probes[r.id_a] & probes[r.id_b]
    ]
    assert sorted(got) == sorted(want)
    # some pairs share both probed clusters, so the dedupe is exercised
    assert any(len(probes[a] & probes[b]) == 2 for a, b, _ in got)


def test_connected_components_known_graph(spark):
    """Two clusters + a bridge-free singleton pair: representatives are
    the minimum ids, chain topology converges (propagation needs
    multiple rounds on a path graph)."""
    from agrobr_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        # path 1-2-3-4-5 (worst case for propagation) and pair 10-11
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "a long, b long",
    )
    got = {
        (r["id"], r["componente"])
        for r in connected_components(edges, "a", "b").collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10)}


def test_connected_components_random_vs_union_find(spark):
    """Property: Spark label propagation equals a pure-python
    union-find on random graphs."""
    import random

    from agrobr_spark.operators.components import connected_components

    rng = random.Random(42)
    n, m = 60, 45
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical representative = min node id in the component
    comp_min: dict[int, int] = {}
    nodes_in_edges = {x for e in edges for x in e}
    for x in nodes_in_edges:
        comp_min.setdefault(find(x), min(
            y for y in nodes_in_edges if find(y) == find(x)
        ))
    want = {(x, comp_min[find(x)]) for x in nodes_in_edges}

    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        (r["id"], r["componente"])
        for r in connected_components(df, "a", "b").collect()
    }
    assert got == want


def test_connected_components_one_action_per_iteration(spark):
    """The convergence probe is folded into the lazy-checkpoint
    materialization (r5 VERDICT nit #1): each round launches exactly
    one job for probe + truncation, not two. Job counts are AQE-noisy
    (shuffle-stage materializations are jobs too), so the assertion is
    relative: the loop must cost strictly fewer jobs than the 2-action
    formulation would (>= 1 saved job per iteration on a path graph
    that needs ~n rounds)."""
    from agrobr_spark.operators.components import connected_components

    tracker = spark.sparkContext._jsc.sc().statusTracker()

    def njobs() -> int:
        return len(tracker.getJobIdsForGroup(None))

    # diameter-7 path: >= 4 propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "a long, b long"
    )
    n0 = njobs()
    out = connected_components(
        edges, "a", "b", driver_max_sym_edges=0
    )
    loop_jobs = njobs() - n0
    assert {r["componente"] for r in out.collect()} == {0}
    # eager-checkpoint + separate count = 2 driver actions/round; the
    # folded form = 1. With AQE each action fans into <= ~8 sub-jobs at
    # this size; the eager form measured ~102 jobs on a similar graph,
    # the folded form ~91. Guard against regressing to 2 actions.
    per_round_budget = 9  # folded: count action + AQE stage jobs
    assert loop_jobs <= per_round_budget * 10, loop_jobs


def test_connected_components_nonconvergence_raises(spark):
    """Hitting max_iter must fail loudly — silently returning
    half-propagated labels is the one failure mode worse than a
    stop."""
    import pytest

    from agrobr_spark.operators.components import connected_components

    # path graph of diameter 6 cannot converge in 1 round
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="max_iter"):
        connected_components(
            edges, "a", "b", max_iter=1, driver_max_sym_edges=0
        )


def test_deterministic_sample_is_scale_stable(spark):
    """o5: the keep decision depends only on the row's own id — adding
    more data must never change which existing rows are kept (the
    property that makes hash sampling reproducible at any scale)."""
    from agrobr_spark.queries import catalog

    fn = catalog()["o5_deterministic_sample"].fn
    small = {r["doc_id"] for r in fn(spark, "/root/testdata/sf0.001").collect()}
    big = {r["doc_id"] for r in fn(spark, "/root/testdata/sf0.01").collect()}
    # sf0.001 doc ids are a prefix of sf0.01's: every kept small-corpus
    # doc must still be kept in the larger corpus
    assert small <= big


def test_lsh_scurve_properties():
    """Property test of the LSH candidate-probability S-curve (r5
    VERDICT nit #4): monotone non-decreasing in Jaccard for both the
    pinned (8,2) and production (128,8) operating points; endpoints
    exact; the production curve is strictly sharper (lower false-
    positive mass below its threshold, higher recall above)."""
    from agrobr_spark.queries.dedup import lsh_candidate_probability as p

    grid = [i / 100 for i in range(101)]
    for n, r in ((8, 2), (128, 8)):
        vals = [p(s, n, r) for s in grid]
        assert vals[0] == 0.0 and abs(vals[-1] - 1.0) < 1e-12
        assert all(b >= a for a, b in zip(vals, vals[1:])), (n, r)
    # sharper at production width: near-zero candidacy for dissimilar
    # pairs, near-certain for true near-dups
    assert p(0.3, 128, 8) < 0.002
    assert p(0.9, 128, 8) > 0.999
    # the pinned point is deliberately looser (threshold ~0.5 with a
    # soft shoulder) — it must dominate the production curve BELOW the
    # production threshold (that's what "loose" means)
    assert p(0.4, 8, 2) > p(0.4, 128, 8)


def test_lsh_bands_reject_ragged_split():
    import pytest

    from agrobr_spark.queries.dedup import lsh_bands

    with pytest.raises(ValueError, match="divisible"):
        lsh_bands(10, 3)
    assert len(lsh_bands(128, 8)) == 16
    cover = [c for _, cols in lsh_bands(128, 8) for c in cols]
    assert cover == [f"mh{i}" for i in range(128)]  # disjoint, total


def test_minhash_band_keys_at_production_width(spark):
    """Deterministic empirical check at (128, 8): md5-derived
    minhashes are fixed, so candidacy is reproducible — a 90%-overlap
    pair must collide in some band, a disjoint pair must not."""
    from agrobr_spark.queries.dedup import minhash_band_keys

    rows = []
    for i in range(20):
        rows.append((1, f"sh{i}"))
        rows.append((2, f"sh{i}" if i < 18 else f"alt{i}"))
        rows.append((3, f"other{i}"))
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    bandas = minhash_band_keys(sh, n_hashes=128, band_size=8)
    a, b = bandas.alias("a"), bandas.alias("b")
    cand = {
        (r["da"], r["db"])
        for r in a.join(
            b,
            (F.col("a.banda") == F.col("b.banda"))
            & (F.col("a.chave") == F.col("b.chave"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
        .collect()
    }
    assert (1, 2) in cand
    assert (1, 3) not in cand and (2, 3) not in cand


def test_approx_percentiles_within_rank_bound(spark):
    """a13_percentiles_approx has no value-exact oracle (sketches can't
    hash-match across engines) — this test IS its exactness contract:
    every approx value must be an actual group element whose rank sits
    within the guaranteed +-n/accuracy window of the target
    percentile."""
    import bisect

    from agrobr_spark.io import load
    from agrobr_spark.queries.relational import (
        _APPROX_PCT_ACC,
        approx_percentiles,
    )

    sf_dir = SF_SMOKE
    approx = {
        r["l_returnflag"]: r
        for r in approx_percentiles(load(spark, sf_dir, "lineitem")).collect()
    }
    vals: dict[str, list[float]] = {}
    for r in load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).collect():
        vals.setdefault(r["l_returnflag"], []).append(r["l_extendedprice"])
    assert set(approx) == set(vals)
    for flag, xs in vals.items():
        xs.sort()
        n = len(xs)
        eps = 1.0 / _APPROX_PCT_ACC
        for p, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            v = approx[flag][col]
            # rank window of v in the sorted group (ties included)
            lo = bisect.bisect_left(xs, v)
            hi = bisect.bisect_right(xs, v) - 1
            want_lo = (p - eps) * (n - 1) - 1
            want_hi = (p + eps) * (n - 1) + 1
            assert lo <= want_hi and hi >= want_lo, (
                flag, col, v, lo, hi, want_lo, want_hi, n
            )


def test_kmeans_blocking_recall_beats_lowest_id_standin(spark):
    """r5 VERDICT next #2 acceptance: on a synthetic clustered corpus
    whose ids CORRELATE with cluster membership (the stand-in's
    documented weakness — all lowest ids in one cluster), the sampled
    k-means fit must recover near-perfect blocking recall while the
    lowest-id stand-in degrades. Ground truth = the exact triangle
    block join (100% recall by construction)."""
    import math
    import random

    from agrobr_spark.operators.allpairs import (
        block_cosine_pairs,
        cluster_cosine_pairs,
    )

    rng = random.Random(614)
    dim, n_clusters, per = 8, 6, 40
    centers = []
    for _ in range(n_clusters):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        nrm = math.sqrt(sum(x * x for x in v))
        centers.append([x / nrm for x in v])
    rows = []
    vid = 0
    for c in centers:  # ids 0..39 cluster 0, 40..79 cluster 1, ...
        for _ in range(per):
            v = [x + rng.gauss(0, 0.05) for x in c]
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kw = dict(id_col="vec_id", vec_col="embedding", threshold=0.9)
    truth = {
        (r["id_a"], r["id_b"])
        for r in block_cosine_pairs(df, n_blocks=4, **kw).collect()
    }
    assert len(truth) > 500  # dense within-cluster pair mass

    def recall(fit: str) -> float:
        got = {
            (r["id_a"], r["id_b"])
            for r in cluster_cosine_pairs(
                df, n_centroids=n_clusters, centroid_fit=fit, **kw
            ).collect()
        }
        assert got <= truth  # blocking only prunes, never invents
        return len(got) / len(truth)

    r_kmeans = recall("kmeans")
    r_standin = recall("lowest_id")
    assert r_kmeans >= 0.95, r_kmeans
    assert r_kmeans > r_standin, (r_kmeans, r_standin)


def test_multiprobe_lifts_blocking_recall(spark):
    """IVF multiprobe (top-2 cluster assignment) must recover strictly
    more true pairs than single-probe on a corpus with cluster-boundary
    pairs, while still never inventing a pair (result remains a subset
    of the exact triangle join) and never duplicating one."""
    import math
    import random

    from agrobr_spark.operators.allpairs import (
        block_cosine_pairs,
        cluster_cosine_pairs,
    )

    rng = random.Random(1306)
    dim = 8
    rows = []
    # points on a smooth 1-D manifold: consecutive ids are near-dups
    # but k-means cluster boundaries must cut the chain somewhere, so
    # single-probe always loses the boundary-straddling pairs
    for i in range(240):
        theta = i * 0.02
        v = [math.cos(theta), math.sin(theta)] + [0.0] * (dim - 2)
        v = [x + rng.gauss(0, 0.01) for x in v]
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kw = dict(id_col="vec_id", vec_col="embedding", threshold=0.995)
    truth = {
        (r["id_a"], r["id_b"])
        for r in block_cosine_pairs(df, n_blocks=4, **kw).collect()
    }
    assert len(truth) > 200

    def pairs(n_probe: int) -> list:
        return [
            (r["id_a"], r["id_b"])
            for r in cluster_cosine_pairs(
                df, n_centroids=8, centroid_fit="kmeans", n_probe=n_probe, **kw
            ).collect()
        ]

    p1, p2 = pairs(1), pairs(2)
    assert len(set(p2)) == len(p2), "multiprobe must not duplicate pairs"
    assert set(p1) <= set(p2) <= truth
    assert len(set(p2)) > len(set(p1)), (len(p2), len(p1))


def test_connected_components_long_path_converges_via_shortcut(spark):
    """A 200-node path has diameter 199: plain min-label propagation
    cannot finish inside max_iter=25, while pointer-doubling (the
    default) converges in O(log n) rounds to the same fixpoint."""
    from agrobr_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "a long, b long"
    )
    out = connected_components(
        edges, "a", "b", driver_max_sym_edges=0
    )  # must not raise
    rows = out.collect()
    assert len(rows) == 200
    assert {r["componente"] for r in rows} == {0}


def test_connected_components_shortcut_equals_plain(spark):
    """Shortcutting must not change the fixpoint — both variants agree
    on a random graph (labels only jump along reachable chains)."""
    import random

    from agrobr_spark.operators.components import connected_components

    rng = random.Random(99)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "a long, b long")
    fast = {
        (r["id"], r["componente"])
        for r in connected_components(df, "a", "b", shortcut=True).collect()
    }
    plain = {
        (r["id"], r["componente"])
        for r in connected_components(df, "a", "b", shortcut=False).collect()
    }
    assert fast == plain


def test_connected_components_driver_equals_distributed(spark):
    """The driver union-find finish (the below-threshold fast path)
    must produce exactly the distributed loop's (id, componente) set —
    on a random graph, on the star-phase's worst case (a long path),
    and for non-numeric id types (componente = lexicographic min)."""
    import random

    from agrobr_spark.operators.components import connected_components

    def both(df):
        drv = {
            (r["id"], r["componente"])
            for r in connected_components(df, "a", "b").collect()
        }
        dist = {
            (r["id"], r["componente"])
            for r in connected_components(
                df, "a", "b", driver_max_sym_edges=0
            ).collect()
        }
        return drv, dist

    rng = random.Random(7)
    edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(40)]
    edges = [(a, b) for a, b in edges if a != b]
    drv, dist = both(spark.createDataFrame(edges, "a long, b long"))
    assert drv == dist and drv

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "a long, b long"
    )
    drv, dist = both(path)
    assert drv == dist and {c for _, c in drv} == {0}

    strs = spark.createDataFrame(
        [("d", "b"), ("b", "a"), ("x", "y")], "a string, b string"
    )
    drv, dist = both(strs)
    assert drv == dist
    assert dict(drv)["d"] == "a" and dict(drv)["x"] == "x"


def test_connected_components_driver_gate_edges(spark, tmp_path):
    """The driver-finish gate at its boundary (r13 VERDICT What's
    wrong #3): a graph whose symmetric row count equals the ceiling
    takes the driver path, one row past it stays distributed, and a
    NON-NUMERIC id type divides the effective ceiling (byte-aware
    gate). Which path ran is observed through the scratch dir — only
    the distributed loop writes per-round tables there."""
    import os

    from agrobr_spark.operators.components import (
        _WIDE_ID_DIVISOR,
        connected_components,
    )

    def ran_distributed(df, ceiling, tag):
        scratch = str(tmp_path / tag)
        os.makedirs(scratch, exist_ok=True)
        connected_components(
            df, "a", "b", scratch_dir=scratch,
            driver_max_sym_edges=ceiling,
        )
        return bool(os.listdir(scratch))

    # path graph 0-1-2: 2 edges -> 4 symmetric rows
    df = spark.createDataFrame([(0, 1), (1, 2)], "a long, b long")
    assert not ran_distributed(df, 4, "at")       # == ceiling: driver
    assert ran_distributed(df, 3, "past")         # > ceiling: rounds
    # string ids: ceiling is divided by the wide-id factor, so a
    # numeric-sized ceiling that WOULD admit 4 rows no longer does
    sdf = spark.createDataFrame([("a", "b"), ("b", "c")],
                                "a string, b string")
    assert ran_distributed(sdf, 4, "wide")        # 4//8 == 0: distributed
    assert not ran_distributed(sdf, 4 * _WIDE_ID_DIVISOR, "wide_ok")


def test_connected_components_driver_path_folds_raw_pairs(spark, tmp_path):
    """The driver finish reads the RAW pair rows: duplicate pairs,
    reversed duplicates and self-loops (an isolated looped node
    included) must give the distributed loop's answer, and the gate
    must count them as the symmetric distinct list does. The gate's
    bounded collect takes ceiling + 1 raw rows, so a raw list longer
    than the ceiling runs distributed even when its symmetric distinct
    list would fit. Which path ran shows in the scratch dir."""
    import os

    from agrobr_spark.operators.components import connected_components

    def run(rows, ceiling, tag):
        scratch = str(tmp_path / tag)
        os.makedirs(scratch)
        out = connected_components(
            spark.createDataFrame(rows, "a long, b long"), "a", "b",
            scratch_dir=scratch, driver_max_sym_edges=ceiling,
        )
        got = {(r["id"], r["componente"]) for r in out.collect()}
        return got, bool(os.listdir(scratch))

    raw = [
        (1, 2), (1, 2), (2, 1), (2, 3), (3, 3), (7, 7), (9, 8), (8, 9),
        (5, 5), (5, 6),
    ]
    want = {(1, 1), (2, 1), (3, 1), (7, 7), (8, 8), (9, 8), (5, 5), (6, 5)}
    # 10 raw rows; symmetric distinct: {1-2, 2-3, 8-9, 5-6} x 2 + 3
    # self-loops = 11 rows
    assert run(raw, 0, "dist") == (want, True)
    assert run(raw, 11, "at") == (want, False)
    assert run(raw, 10, "past") == (want, True)
    # 6 raw rows, 2 symmetric rows
    dup = [(1, 2)] * 6
    assert run(dup, 5, "raw_past") == ({(1, 1), (2, 1)}, True)
    assert run(dup, 6, "raw_at") == ({(1, 1), (2, 1)}, False)


def test_rp_lsh_recall_on_fixture(spark):
    """Multi-table random-hyperplane LSH on the near-isotropic fixture
    corpus (top-10 neighbors at cos≈0.3 — close to the hardest case
    for angle hashing): the measured operating point is ~0.7 recall;
    floor at 0.6 to catch constant/plane regressions."""
    from agrobr_spark.queries.similarity import sim_cosine_topk, sim_rp_lsh_ann

    sf_dir = "/root/testdata/sf0.001"
    exact = sim_cosine_topk(spark, sf_dir).collect()
    approx = sim_rp_lsh_ann(spark, sf_dir).collect()
    truth: dict[int, set] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    got: dict[int, set] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    assert set(got) == set(truth)
    recalls = [len(truth[q] & got[q]) / len(truth[q]) for q in truth]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_rp_lsh_recall_on_clustered_corpus(spark, tmp_path):
    """On an actually-clustered corpus (what real embedding spaces
    look like) the same baked constants must exceed 0.9 recall — the
    honest counterpart to the isotropic-fixture floor above."""
    import math
    import random

    from agrobr_spark.queries.similarity import (
        EMB_DIM,
        sim_cosine_topk,
        sim_rp_lsh_ann,
    )

    rng = random.Random(7)
    cents = [
        [rng.gauss(0, 1) for _ in range(EMB_DIM)] for _ in range(10)
    ]
    rows = []
    for i in range(400):
        c = cents[i % 10]
        v = [x + 0.25 * rng.gauss(0, 1) for x in c]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [float(x / n) for x in v], i % 10))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    exact = sim_cosine_topk(spark, str(tmp_path)).collect()
    approx = sim_rp_lsh_ann(spark, str(tmp_path)).collect()
    truth: dict[int, set] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    got: dict[int, set] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_approx_distinct_within_bound(spark):
    """a14's HLL++ counts must sit within the configured relative
    error (2% rsd -> assert a generous 3x window) of the exact
    distinct counts — the exactness contract the rows-only driver
    check can't express (a13_percentiles_approx precedent)."""
    import pyspark.sql.functions as F

    from agrobr_spark.io import load
    from agrobr_spark.queries.relational import approx_distinct_counts

    sf_dir = "/root/testdata/sf0.001"
    approx = {
        r["l_returnflag"]: r
        for r in approx_distinct_counts(
            load(spark, sf_dir, "lineitem")
        ).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("p"),
            F.countDistinct("l_orderkey").alias("o"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, ex in exact.items():
        ap = approx[flag]
        assert abs(ap["n_parts_aprox"] - ex["p"]) <= max(3, 0.06 * ex["p"])
        assert abs(ap["n_pedidos_aprox"] - ex["o"]) <= max(3, 0.06 * ex["o"])


def test_funnel_is_monotone_nonincreasing(spark):
    from agrobr_spark.queries import catalog as _cat
    from tests.conftest import SF_ORACLE

    rows = sorted(
        (r["ordem"], r["n_usuarios"], r["conversao"])
        for r in _cat()["w8_funnel"].fn(spark, SF_ORACLE).collect()
    )
    assert len(rows) == 3
    assert rows[0][1] >= rows[1][1] >= rows[2][1] >= 0
    assert rows[0][2] == 1.0
    assert rows[2][1] > 0, "fixture must have complete funnels"


def test_funnel_empty_emits_zero_not_null(spark, tmp_path):
    """Zero step-1 events: the funnel must report n_usuarios=0 for all
    three stages (matching the oracle's count(*) = 0), not NULL from a
    global agg over an empty frame."""
    from agrobr_spark.queries import catalog as _cat

    sf = str(tmp_path)
    (
        spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", 7, "click", 1.0, "{}")],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        )
        .selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
            "event_type", "value", "props",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(sf + "/events.parquet")
    )
    rows = sorted(
        (r["ordem"], r["n_usuarios"]) for r in
        _cat()["w8_funnel"].fn(spark, sf).collect()
    )
    assert rows == [(1, 0), (2, 0), (3, 0)]


def test_retention_day0_equals_cohort_size(spark):
    import pyspark.sql.functions as F

    from agrobr_spark.queries import catalog as _cat
    from tests.conftest import SF_ORACLE

    df = _cat()["w9_retention_cohorts"].fn(spark, SF_ORACLE).cache()
    try:
        assert df.filter(F.col("dias_depois") < 0).count() == 0
        # every user's first day IS an activity day: sum of day-0
        # counts == number of distinct users
        d0 = df.filter(F.col("dias_depois") == 0).agg(
            F.sum("n_usuarios")
        ).first()[0]
        from agrobr_spark.io import load

        n_users = (
            load(spark, SF_ORACLE, "events")
            .select("user_id").distinct().count()
        )
        assert d0 == n_users
    finally:
        df.unpersist()


def test_lsh_wide_signature_is_sharper(spark):
    """Measured S-curve shift at the production signature width: at
    (128 hashes, 8-row bands) the curve midpoint moves from ~0.5 to
    ~0.707, so against the same Jaccard >= 0.5 ground truth the wide
    configuration must emit no more candidates and no lower precision
    than the pinned (8, 2) catalog point — the measured counterpart of
    the analytic property test above."""
    from agrobr_spark.queries.dedup import _shingles_df, lsh_quality
    from tests.conftest import SF_ORACLE

    sh = _shingles_df(spark, SF_ORACLE)
    narrow = lsh_quality(sh, 8, 2, 0.5).first()
    wide = lsh_quality(sh, 128, 8, 0.5).first()
    assert narrow["n_verdadeiros"] == wide["n_verdadeiros"]  # same truth
    assert wide["n_candidatos"] <= narrow["n_candidatos"]
    assert (wide["precisao"] or 0) >= (narrow["precisao"] or 0)
    # near-threshold mass may be lost by the sharper curve, but exact
    # dups (J=1.0) collide in every band at ANY width
    assert wide["n_recuperados"] > 0


def test_touch_attribution_invariants(spark):
    """Every purchase appears exactly once; an attributed row's touch
    age is within [0, 7 days] and its touch precedes the purchase;
    organic rows carry no touch id."""
    import pyspark.sql.functions as F

    from agrobr_spark.io import load
    from agrobr_spark.queries import catalog as _cat
    from agrobr_spark.queries.operator_ops import ATTR_WINDOW_S
    from tests.conftest import SF_ORACLE

    df = _cat()["w11_touch_attribution"].fn(spark, SF_ORACLE).cache()
    try:
        n_purchases = (
            load(spark, SF_ORACLE, "events")
            .filter(F.col("event_type") == "purchase")
            .count()
        )
        assert df.count() == n_purchases
        assert df.select("compra_id").distinct().count() == n_purchases
        atribuidos = df.filter(F.col("toque_tipo") != "organico")
        assert atribuidos.count() > 0, "fixture must attribute something"
        bad = atribuidos.filter(
            (F.col("idade_s") < 0)
            | (F.col("idade_s") > ATTR_WINDOW_S)
            | F.col("toque_id").isNull()
        ).count()
        assert bad == 0
        assert (
            df.filter(F.col("toque_tipo") == "organico")
            .filter(F.col("toque_id").isNotNull())
            .count()
            == 0
        )
    finally:
        df.unpersist()


def test_blocking_recall_paths_floors_and_ordering(spark):
    """The multi-path recall report (r6 VERDICT next #4): every
    shipped operating point clears its documented floor, recall is
    monotone in n_probe for the kmeans family, and the catalog
    entry's gate booleans are all TRUE."""
    from agrobr_spark.io import load
    from agrobr_spark.queries import catalog as _cat
    from agrobr_spark.queries.dedup import blocking_recall_paths
    from tests.conftest import SF_ORACLE

    rows = blocking_recall_paths(
        load(spark, SF_ORACLE, "embeddings")
    ).collect()
    by_path = {(r["caminho"], r["n_probe"]): r for r in rows}
    assert len(by_path) == 4
    for r in rows:
        assert r["recall"] >= r["alvo"], (r["caminho"], r["n_probe"], r["recall"])
        assert r["n_recuperados"] <= r["n_pares_exatos"]
    km = [r["recall"] for _, r in sorted(by_path.items()) if r["caminho"] == "kmeans"]
    assert km == sorted(km), "kmeans recall must not drop as n_probe grows"

    gated = _cat()["dedup_blocking_recall_paths"].fn(spark, SF_ORACLE).collect()
    assert all(r["atinge_alvo"] for r in gated)


def test_blocking_recall_margin_at_sf01(spark):
    """Floor hardening (r7 VERDICT next #5): at the LARGEST fixture —
    the near-worst case for the sampled k-means blocking — every
    published operating point clears its documented floor with at
    least 0.05 of margin, so no single fixture tweak can flip an
    oracle row red."""
    from agrobr_spark.io import load
    from agrobr_spark.queries.dedup import blocking_recall_paths

    e = load(spark, "/root/testdata/sf0.1", "embeddings")
    for r in blocking_recall_paths(e).collect():
        assert r["recall"] >= r["alvo"] + 0.05, (
            r["caminho"], r["n_probe"], r["recall"], r["alvo"],
        )


def test_blocking_recall_pair_free_fixture_is_one(spark):
    """A fixture with NO exact near-dup pairs has nothing to miss:
    recall is defined as 1.0 (not NULL), so the gate booleans stay
    TRUE and match the oracle's unconditional verdict (ADVICE r7)."""
    from agrobr_spark.queries.dedup import blocking_recall_paths

    # mutually orthogonal unit vectors: every pairwise cosine is 0
    dim = 16
    rows = [
        (i, [1.0 if j == i else 0.0 for j in range(dim)]) for i in range(dim)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for r in blocking_recall_paths(e).collect():
        assert r["n_pares_exatos"] == 0
        assert r["recall"] == 1.0, (r["caminho"], r["n_probe"])


def _wav_bytes(seconds=2.0, rate=8000, freq=440.0):
    """Real RIFF/WAVE bytes via stdlib wave — a genuine codec path
    that needs no external library."""
    import array
    import io
    import math
    import wave

    n = int(seconds * rate)
    samples = array.array(
        "h",
        (
            int(12000 * math.sin(2 * math.pi * freq * i / rate))
            for i in range(n)
        ),
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def test_real_decode_audio_wav(spark):
    """The injectable real-codec decoder must extract the TRUE
    duration from real WAV bytes through the same mapInPandas plumbing
    as the stub (r6 VERDICT next #6) — stdlib wave, runs everywhere."""
    from agrobr_spark.operators.multimodal import decode_features, real_decode

    wav = _wav_bytes(seconds=2.0, rate=8000)
    df = spark.createDataFrame(
        [(1, "audio", bytearray(wav), "audio/wav")],
        "media_id long, kind string, payload binary, mime string",
    )
    row = decode_features(df, decoder=real_decode).collect()[0]
    assert row["duration_s"] == 2.0  # n_frames / rate, exact
    assert row["n_bytes"] == len(wav)
    assert len(row["feature"]) == 8
    # a 440 Hz sine has real amplitude mass in every octile
    assert all(f > 0.0 for f in row["feature"])
    assert row["width"] is None and row["height"] is None


def _png_bytes(width: int, height: int) -> bytes:
    """A valid minimal PNG built field by field with stdlib zlib:
    signature + IHDR + one-scanline-per-row IDAT + IEND."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # gray8
    raw = b"".join(b"\x00" + bytes([128] * width) for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _jpeg_header_bytes(width: int, height: int) -> bytes:
    """SOI + APP0(JFIF) + SOF0 header — enough of a real JPEG for
    header-metadata parsing (no scan data)."""
    import struct

    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof0)) + sof0
    )


def test_real_decode_image_headers(spark):
    """Stdlib image-header decode (r8 VERDICT next #5, no PIL skip):
    true pixel dimensions from real PNG/JPEG/GIF bytes through the
    same mapInPandas plumbing. PNG pixel features decode pure-stdlib
    (png_decode_pixels) so the feature is real gray 128s with OR
    without PIL; only JPEG/GIF pixels remain the PIL upgrade."""
    from agrobr_spark.operators.multimodal import (
        decode_features,
        image_header_metadata,
        real_decode,
    )

    png = _png_bytes(37, 21)
    jpg = _jpeg_header_bytes(123, 45)
    gif = b"GIF89a" + (200).to_bytes(2, "little") + (99).to_bytes(2, "little")
    assert image_header_metadata(jpg) == {"width": 123, "height": 45}
    assert image_header_metadata(gif) == {"width": 200, "height": 99}

    df = spark.createDataFrame(
        [(1, "image", bytearray(png), "image/png")],
        "media_id long, kind string, payload binary, mime string",
    )
    row = decode_features(df, decoder=real_decode).collect()[0]
    assert (row["width"], row["height"]) == (37, 21)
    assert len(row["feature"]) == 8
    # real gray 128s via stdlib PNG decode (or PIL when present)
    assert all(abs(f - 128 / 255.0) < 1e-6 for f in row["feature"])


def _mp4_bytes(duration_s=7.5, timescale=1000, width=320, height=180,
               mvhd_version=0, largesize=False):
    """Minimal valid ISO-BMFF bytes: ftyp + moov(mvhd, trak(tkhd)) —
    the real container layout, built field by field."""
    import struct

    def box(btype: bytes, payload: bytes, force_large=False) -> bytes:
        if force_large:
            return struct.pack(">I", 1) + btype + struct.pack(
                ">Q", 16 + len(payload)
            ) + payload
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    dur = int(duration_s * timescale)
    if mvhd_version == 1:
        mvhd = (
            b"\x01\x00\x00\x00"
            + struct.pack(">QQIQ", 0, 0, timescale, dur)
            + b"\x00" * 80
        )
    else:
        mvhd = (
            b"\x00\x00\x00\x00"
            + struct.pack(">IIII", 0, 0, timescale, dur)
            + b"\x00" * 80
        )
    tkhd = (
        b"\x00\x00\x00\x07"
        + struct.pack(">IIIII", 0, 0, 1, 0, dur)
        + b"\x00" * 52  # reserved/layer/volume/matrix
        + struct.pack(">II", width << 16, height << 16)
    )
    moov = box(b"moov", box(b"mvhd", mvhd) + box(b"trak", box(b"tkhd", tkhd)),
               force_large=largesize)
    return box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov


def test_mp4_metadata_stdlib():
    """The stdlib MP4 box parser (r7 VERDICT next #4) reads true
    duration and dimensions from real container bytes — both mvhd
    versions, the 64-bit largesize form, and truncation/garbage
    degradation."""
    import pytest

    from agrobr_spark.operators.multimodal import mp4_metadata

    m = mp4_metadata(_mp4_bytes(duration_s=7.5, width=320, height=180))
    assert m == {"duration_s": 7.5, "width": 320, "height": 180}

    m = mp4_metadata(_mp4_bytes(duration_s=2.25, mvhd_version=1,
                                width=64, height=48))
    assert m == {"duration_s": 2.25, "width": 64, "height": 48}

    m = mp4_metadata(_mp4_bytes(largesize=True))
    assert m["duration_s"] == 7.5 and m["width"] == 320

    with pytest.raises(ValueError, match="moov"):
        mp4_metadata(b"not an mp4 at all, just text bytes")
    # truncated mid-moov: no crash, partial/empty metadata
    full = _mp4_bytes()
    trunc = full[: len(full) - 30]
    try:
        m = mp4_metadata(trunc)
        assert set(m) == {"duration_s", "width", "height"}
    except ValueError:
        pass  # acceptable: truncation consumed the whole moov


def test_real_decode_video_mp4(spark):
    """real_decode handles video WITHOUT ffmpeg now: true duration and
    dimensions from the MP4 header through the same mapInPandas
    plumbing; only frame extraction remains env-gated."""
    from agrobr_spark.operators.multimodal import decode_features, real_decode

    mp4 = _mp4_bytes(duration_s=3.5, width=640, height=360)
    df = spark.createDataFrame(
        [(9, "video", bytearray(mp4), "video/mp4")],
        "media_id long, kind string, payload binary, mime string",
    )
    row = decode_features(df, decoder=real_decode).collect()[0]
    assert row["duration_s"] == 3.5
    assert (row["width"], row["height"]) == (640, 360)
    assert row["n_bytes"] == len(mp4)


def test_real_decode_env_gates():
    """Frame extraction (no ffmpeg) gates; header-metadata decode no
    longer gates for ANY modality (stdlib parsers) — bad bytes raise
    ValueError, never a lib gate."""
    import pytest

    from agrobr_spark.operators.multimodal import (
        extract_video_frames,
        real_decode,
    )

    with pytest.raises(NotImplementedError, match="ffmpeg"):
        extract_video_frames(b"fake")
    with pytest.raises(ValueError, match="moov"):
        real_decode(b"fake", "video")
    with pytest.raises(ValueError, match="PNG/JPEG/GIF"):
        real_decode(b"fake-png", "image")
    with pytest.raises(ValueError, match="SOF"):
        real_decode(b"\xff\xd8\xff\xda\x00\x02", "image")  # scan, no SOF


def test_hard_negatives_exclude_near_dups(spark):
    """Mined negatives must all sit strictly below the near-dup
    ceiling, be the TOP candidates under it (no skipped better
    negative), and never include the query itself."""
    from agrobr_spark.queries import catalog as _cat
    from agrobr_spark.queries.similarity import (
        HARD_NEG_CEILING,
        HARD_NEG_K,
    )
    from agrobr_spark.queries.similarity import sim_cosine_topk

    sf = "/root/testdata/sf0.001"
    negs = _cat()["sim_hard_negatives"].fn(spark, sf).collect()
    assert negs
    per_q: dict[int, list] = {}
    for r in negs:
        assert r["cosseno"] < HARD_NEG_CEILING
        assert r["vec_id"] != r["query_id"]
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rows in per_q.items():
        assert len(rows) <= HARD_NEG_K
        rows.sort(key=lambda r: r["posicao"])
        cos = [r["cosseno"] for r in rows]
        assert cos == sorted(cos, reverse=True)


def test_profile_columns_one_scan(spark):
    """The profiler's whole point is one pass: exactly one parquet
    scan in the plan, pruned to the profiled columns."""
    from agrobr_spark.queries import catalog as _cat

    df = _cat()["a15_profile_columns"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re

    # formatted mode lists each node once in the tree and once in the
    # detail section — count detail entries ("(n) Scan parquet")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:200]


def test_profile_entropy_known_values(spark):
    """Entropy on frames with known distributions: a constant column
    has H=0, a uniform k-valued column has H=log2(k), and a 75/25
    split has H = -(0.75·log2 0.75 + 0.25·log2 0.25)."""
    import math

    import pytest

    from agrobr_spark.queries.relational import profile_columns

    rows = [(float(i % 4), 1.0, float(i % 2 == 0) * 3.0 or 1.0) for i in range(64)]
    df = spark.createDataFrame(rows, "uniforme double, constante double, dois double")
    out = {r["coluna"]: r for r in profile_columns(
        df, ("uniforme", "constante", "dois")
    ).collect()}
    assert out["uniforme"]["entropia"] == pytest.approx(2.0, abs=1e-5)
    assert out["constante"]["entropia"] == pytest.approx(0.0, abs=1e-9)
    assert out["dois"]["entropia"] == pytest.approx(1.0, abs=1e-5)
    # 75/25 split
    df2 = spark.createDataFrame(
        [(1.0,)] * 3 + [(2.0,)], "x double"
    )
    h = profile_columns(df2, ("x",)).collect()[0]["entropia"]
    want = -(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25))
    assert h == pytest.approx(want, abs=1e-5)
    # nulls are excluded from entropy but counted in nulos
    df3 = spark.createDataFrame([(1.0,), (1.0,), (None,)], "x double")
    r = profile_columns(df3, ("x",)).collect()[0]
    assert r["nulos"] == 1 and r["entropia"] == pytest.approx(0.0, abs=1e-9)


def test_profile_hll_swap_within_tolerance(spark):
    """The documented HLL swap for hot columns: approx_distinct=True
    replaces the exact distinct count with HyperLogLog++ and lands
    within the configured relative error on every profiled column."""
    from agrobr_spark.io import load
    from agrobr_spark.queries.relational import _PROFILE_COLS, profile_columns

    li = load(spark, SF_SMOKE, "lineitem")
    exact = {
        r["coluna"]: r["n_distintos"]
        for r in profile_columns(li, _PROFILE_COLS).collect()
    }
    approx = {
        r["coluna"]: r["n_distintos"]
        for r in profile_columns(
            li, _PROFILE_COLS, approx_distinct=True, rsd=0.05
        ).collect()
    }
    for c in _PROFILE_COLS:
        assert abs(approx[c] - exact[c]) <= max(2, 0.15 * exact[c]), (
            c, exact[c], approx[c],
        )


def test_profile_correlation_one_scan_and_known_values(spark):
    """a17: one scan for all six pairs, and known algebra on a
    constructed frame — y=2x+3 correlates 1.0, z=-x correlates -1.0,
    a constant column yields NULL, and pairwise-complete masking
    counts only rows where BOTH columns are non-null."""
    import re

    from agrobr_spark.queries import catalog as _cat
    from agrobr_spark.queries.relational import profile_correlation

    df = _cat()["a17_profile_correlation"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(df.collect()) == 6

    rows = [
        (float(i), 2.0 * i + 3.0, -float(i), 5.0,
         float(i) if i < 8 else None)
        for i in range(10)
    ]
    t = spark.createDataFrame(
        rows, "x double, y double, z double, c double, parcial double"
    )
    out = {
        (r["coluna_a"], r["coluna_b"]): r
        for r in profile_correlation(
            t, (("x", "y"), ("x", "z"), ("x", "c"), ("x", "parcial"))
        ).collect()
    }
    assert out[("x", "y")]["correlacao"] == 1.0
    assert out[("x", "z")]["correlacao"] == -1.0
    assert out[("x", "c")]["correlacao"] is None  # zero variance
    assert out[("x", "parcial")]["n"] == 8  # pairwise-complete


def test_profile_histogram_one_scan_and_totals(spark):
    """a16's pass 2 must be ONE scan (bounds were a separate driver
    action), bucket ids must stay inside [0, 8), and per-column bucket
    counts must total the column's non-null rows."""
    import re

    from agrobr_spark.io import load
    from agrobr_spark.queries import catalog as _cat
    from agrobr_spark.queries.relational import _PROFILE_COLS

    df = _cat()["a16_profile_histogram"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan

    rows = df.collect()
    li = load(spark, SF_SMOKE, "lineitem")
    for c in _PROFILE_COLS:
        got = sum(r["contagem"] for r in rows if r["coluna"] == c)
        want = li.filter(F.col(c).isNotNull()).count()
        assert got == want, c
    assert all(0 <= r["balde"] < 8 for r in rows)
    # the max bucket is populated (max value lands in bucket k-1 via least)
    assert any(r["balde"] == 7 for r in rows)


def test_mad_anomalies_robust_to_planted_spike(spark, tmp_path):
    """One huge day must be flagged, and must NOT drag the baseline:
    the median/MAD of the series with the spike stays at the clean
    series' level (the property mean/stddev lacks)."""
    import datetime as dt2

    from agrobr_spark.queries import catalog as _cat

    sf = str(tmp_path)
    rows = []
    eid = 0
    for day in range(1, 21):
        v = 100.0 + (day % 5)  # stable baseline
        if day == 10:
            v = 10_000.0  # the spike
        rows.append(
            (eid, dt2.datetime(2024, 1, day, 12, 0, 0), 1, "compra", v, "{}")
        )
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(sf + "/events.parquet")

    out = {r["data"]: r for r in _cat()["w12_mad_anomalies"].fn(spark, sf).collect()}
    assert len(out) == 20
    spike = out[dt2.date(2024, 1, 10)]
    assert spike["anomalo"]
    assert spike["mediana"] < 110  # baseline unmoved by the spike
    normals = [r for d, r in out.items() if d != dt2.date(2024, 1, 10)]
    assert sum(1 for r in normals if r["anomalo"]) == 0


def test_semdedup_keeper_rule_and_clique_pruning(spark):
    """SemDeDup on a constructed two-cluster corpus: a planted
    near-identical clique keeps EXACTLY its lowest-centroid-similarity
    member (the paper's keeper rule, id tie-break), every non-dup
    vector survives, and each input id appears exactly once."""
    from agrobr_spark.operators.allpairs import semdedup_flags

    rows = [
        # cluster around [1, 0]: a 3-clique of near-dups + one distinct
        (1, [1.0, 0.0]),
        (2, [0.999, 0.02]),
        (3, [0.995, 0.0999]),
        (4, [0.8, 0.6]),
        # cluster around [0, 1]: a 2-clique + one distinct
        (11, [0.0, 1.0]),
        (12, [0.02, 0.999]),
        (13, [0.6, 0.8]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup_flags(
        df, "vec_id", "embedding", threshold=0.99,
        n_centroids=2, centroid_fit="kmeans",
    ).collect()
    byid = {r["vec_id"]: r for r in out}
    assert sorted(byid) == [1, 2, 3, 4, 11, 12, 13]

    for clique in ([1, 2, 3], [11, 12]):
        kept = [i for i in clique if byid[i]["mantido"]]
        expected = min(
            clique, key=lambda i: (byid[i]["sim_centroide"], i)
        )
        assert kept == [expected], (clique, kept, expected)
    for lone in (4, 13):
        assert byid[lone]["mantido"], lone


def test_bloom_semi_join_exact_and_bitmap_bounds(spark):
    """bloom_semi_join must equal the plain semi join exactly (false
    positives removed by the verify join), the Bloom prune alone must
    return a SUPERSET of the true matches, and the bitmap must stay
    within ceil(m/64) rows."""
    import pyspark.sql.functions as F

    from agrobr_spark.operators.bloom_prune import (
        bloom_bitmap,
        bloom_prune,
        bloom_semi_join,
    )

    big = spark.range(0, 5000).select(F.col("id").alias("k"))
    small = spark.range(0, 5000, 7).select(F.col("id").alias("k"))  # 715 keys

    got = {r["k"] for r in bloom_semi_join(big, small, "k").collect()}
    want = {r["k"] for r in big.join(small, "k", "left_semi").collect()}
    assert got == want

    m = 715 * 8
    bm = bloom_bitmap(small, "k", m)
    assert bm.count() <= (m + 63) // 64
    cand = {r["k"] for r in bloom_prune(big, bm, "k", m).collect()}
    assert want <= cand  # never drops a true match
    # 8 bits/key, 2 hashes -> FPR ~ 5%; allow generous slack
    assert len(cand) <= len(want) + 0.25 * (5000 - len(want))


def test_approx_distinct_within_bound_at_all_fixture_scales(spark):
    """a18's 3·rsd contract must hold on every fixture scale the
    driver and probes use — HLL++ is deterministic per dataset, so
    these booleans are stable, and a Spark-version sketch change that
    breaks the bound fails here before it fails the oracle."""
    from agrobr_spark.queries.relational import a18_approx_distinct
    from tests.conftest import SF_SMOKE

    rows = a18_approx_distinct(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    assert all(r["dentro"] for r in rows), rows
    # sanity: exact counts are the fixture's known cardinalities
    got = {r["coluna"]: r["n_exato"] for r in rows}
    assert got["l_returnflag"] == 3
    assert got["l_suppkey"] == 10


def test_pq_ann_recall_vs_brute_force(spark):
    """PQ shortlist + exact re-rank must recover most of the exact
    top-10 (mean recall floor 0.80, measured 0.98/1.0/0.88 at
    sf0.001/0.01/0.1 with the size-adaptive shortlist — >=0.08 margin
    at every fixture point, per the blocking-recall floor
    discipline). The shortlist knob (n/PQ_SHORT_DIV) is the escalation
    lever when a user needs a higher floor."""
    from agrobr_spark.queries.similarity import sim_cosine_topk, sim_pq_ann

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
        truth: dict[int, set] = {}
        for r in sim_cosine_topk(spark, sf_dir).collect():
            truth.setdefault(r.query_id, set()).add(r.vec_id)
        got: dict[int, set] = {}
        for r in sim_pq_ann(spark, sf_dir).collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        assert set(got) == set(truth)
        recalls = [len(truth[q] & got[q]) / len(truth[q]) for q in truth]
        mean = sum(recalls) / len(recalls)
        assert mean >= 0.80, f"{sf_dir}: mean recall {mean} ({recalls})"


def test_heavy_hitters_exact_and_no_false_negatives(spark):
    """text_heavy_hitters must equal the full group-by ground truth
    exactly (the no-false-negative guarantee of the Misra-Gries
    candidate pass is what makes the two-pass shape EXACT, not
    approximate) — checked on the smoke fixture."""
    from agrobr_spark.io import load
    from agrobr_spark.queries.pipeline_text import (
        HH_SUPPORT,
        text_heavy_hitters,
    )

    d = load(spark, SF_SMOKE, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = d.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("t")
    ).select(F.lower("t").alias("termo"))
    total = toks.count()
    import math

    bar = math.ceil(HH_SUPPORT * total)
    truth = {
        r["termo"]: r["n"]
        for r in toks.groupBy("termo")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .filter(F.col("n") >= bar)
        .collect()
    }
    got = {
        r["termo"]: r["n"] for r in text_heavy_hitters(spark, SF_SMOKE).collect()
    }
    assert got == truth
    assert truth, "fixture must have at least one heavy hitter"


def test_interval_overlap_join_matches_naive(spark):
    """Bucketized interval-interval overlap must equal the naive
    theta join exactly — including multi-bucket spans (no double
    emission thanks to the canonical left-edge bucket rule), zero
    overlap sharing only an endpoint (closed-open: NOT a match), and
    containment."""
    from agrobr_spark.operators.range_join import interval_overlap_join

    a = spark.createDataFrame(
        [(1, 0, 40), (2, 10, 12), (3, 30, 31), (4, 5, 6)],
        "aid int, ia long, fa long",
    )
    b = spark.createDataFrame(
        [(1, 11, 35), (2, 6, 10), (3, 39, 50), (4, 0, 100)],
        "bid int, ib long, fb long",
    )
    naive = a.join(
        b, (a.ia < b.fb) & (b.ib < a.fa)
    ).select("aid", "bid")
    fast = interval_overlap_join(
        a, b, "ia", "fa", "ib", "fb", bucket_width=7
    ).select("aid", "bid")
    got = sorted(map(tuple, fast.collect()))
    want = sorted(map(tuple, naive.collect()))
    assert got == want
    # sanity on semantics: (2: 10..12) vs (2: 6..10) touch at 10 only
    assert (2, 2) not in got  # closed-open endpoints do not overlap
    assert (1, 4) in got      # containment matches once


def test_gap_fill_locf_semantics(spark):
    """w13: every product's spine is complete (no date holes), filled
    rows carry exactly the previous observed value, and observed rows
    pass through unflagged."""
    import datetime as _dt

    from agrobr_spark.queries.relational import w13_gap_fill_locf

    rows = w13_gap_fill_locf(spark, SF_SMOKE).collect()
    by_prod: dict[str, list] = {}
    for r in rows:
        by_prod.setdefault(r["produto"], []).append(r)
    assert by_prod
    for prod, rs in by_prod.items():
        rs.sort(key=lambda r: r["data"])
        # complete daily spine
        for a, b in zip(rs, rs[1:]):
            assert (b["data"] - a["data"]) == _dt.timedelta(days=1), prod
        # LOCF: a filled row equals the nearest earlier observed value
        last_obs = None
        for r in rs:
            if r["preenchido"]:
                assert r["valor"] == last_obs, (prod, r)
            else:
                last_obs = r["valor"]
        # first row of each product is always observed (spine starts
        # at min(data))
        assert not rs[0]["preenchido"]


def test_knn_graph_recall_on_clustered_corpus(spark, tmp_path):
    """knn_graph_edges with the library k-means fit must recover the
    true top-5 neighborhood on an actually-clustered corpus (what real
    embedding spaces look like): measured 0.88 mean recall@5 at the
    auto-sized ~2*sqrt(n) centroids / 2 probes — floored at 0.80
    (>=0.05 margin discipline). The isotropic sf fixtures are the
    documented hard case (near-random vectors have no cluster-local
    neighborhoods for ANY blocking scheme); the catalog entry pins the
    oracle-replicable lowest-id stand-in, this test measures the real
    fit."""
    import math
    import random

    from agrobr_spark.operators.allpairs import knn_graph_edges

    rng = random.Random(7)
    dim = 64
    cents = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    rows = []
    for i in range(400):
        c = cents[i % 10]
        v = [x + 0.25 * rng.gauss(0, 1) for x in c]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [float(x / n) for x in v], i % 10))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    # exact top-5 per node (brute force on the driver — 400 vectors)
    import numpy as np

    V = np.array([r[1] for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    np.fill_diagonal(S, -2)
    order = np.argsort(-np.round(S, 6), axis=1, kind="stable")
    truth = {i: {int(j) for j in order[i, :5]} for i in range(400)}

    got: dict[int, set] = {}
    for r in knn_graph_edges(
        df, "vec_id", "embedding", k=5, centroid_fit="kmeans", n_probe=2
    ).collect():
        got.setdefault(r.id, set()).add(r.neighbor_id)
    recalls = [len(truth[q] & got.get(q, set())) / 5 for q in truth]
    assert sum(recalls) / len(recalls) >= 0.80, sum(recalls) / len(recalls)


def test_knn_graph_shape(spark):
    """sim_knn_graph structural contract: no self-loops, per-node
    posicao is contiguous from 1 (at most GRAPH_K), cosines bounded,
    and every node of the corpus appears (the fixture's probed
    clusters always hold >= K other members)."""
    from agrobr_spark.queries.similarity import GRAPH_K, sim_knn_graph

    rows = sim_knn_graph(spark, SF_SMOKE).collect()
    by_node: dict[int, list] = {}
    for r in rows:
        assert r.neighbor_id != r.vec_id
        assert -1.000001 <= r.cosseno <= 1.000001
        by_node.setdefault(r.vec_id, []).append(r.posicao)
    n_nodes = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    assert len(by_node) == n_nodes
    for node, pos in by_node.items():
        assert sorted(pos) == list(range(1, len(pos) + 1)), node
        assert len(pos) <= GRAPH_K


def test_ann_recall_report_all_green(spark):
    """sim_ann_recall_report: one row per ANN variant, every variant
    above its documented floor on the oracle fixture — the report's
    `ok` gate is what a pipeline would act on, so it must hold here
    (the oracle hash-pins the VALUES; this pins the JUDGMENT)."""
    from agrobr_spark.queries.similarity import sim_ann_recall_report
    from tests.conftest import SF_ORACLE

    rows = {r.variant: r for r in sim_ann_recall_report(spark, SF_ORACLE).collect()}
    assert set(rows) == {"ivf", "rp_lsh", "pq"}
    for v, r in rows.items():
        assert r.ok, (v, r.recall_at_k, r.piso)
        assert 0.0 <= r.recall_at_k <= 1.0
        assert r.n_hits <= r.n_exact


def test_cluster_sample_balanced_quota(spark):
    """pipeline_cluster_sample: every cluster contributes at most the
    (single, shared) quota; pos_cluster is contiguous from 1 within a
    cluster; the total sample is bounded by quota * live clusters."""
    from agrobr_spark.queries.training_prep import pipeline_cluster_sample
    from tests.conftest import SF_ORACLE

    rows = pipeline_cluster_sample(spark, SF_ORACLE).collect()
    assert rows
    quotas = {r.cota for r in rows}
    assert len(quotas) == 1
    q = quotas.pop()
    by_c: dict[int, list] = {}
    for r in rows:
        by_c.setdefault(r.cid, []).append(r.pos_cluster)
    for cid, pos in by_c.items():
        assert len(pos) <= q, (cid, len(pos))
        assert sorted(pos) == list(range(1, len(pos) + 1)), cid
    assert len(rows) <= q * len(by_c)


def test_phrase_match_against_independent_like(spark):
    """text_phrase_match cross-checked by a DIFFERENT algorithm:
    whitespace-normalized substring containment. The positional-
    posting result must flag exactly the docs whose normalized text
    contains ' <phrase> ' (counts are the posting path's extra
    information; presence must agree)."""
    import pyspark.sql.functions as F

    from agrobr_spark.io import load
    from agrobr_spark.queries.pipeline_text import PHRASES, text_phrase_match

    got: dict[str, set] = {}
    for r in text_phrase_match(spark, SF_SMOKE).collect():
        assert r.n_ocorrencias >= 1
        got.setdefault(r.frase, set()).add(r.doc_id)
    d = load(spark, SF_SMOKE, "documents").select(
        "doc_id",
        F.concat(
            F.lit(" "),
            F.regexp_replace(F.trim(F.col("text")), r"\s+", " "),
            F.lit(" "),
        ).alias("norm"),
    )
    for frase in PHRASES:
        expect = {
            r.doc_id
            for r in d.filter(
                F.col("norm").contains(f" {frase} ")
            ).collect()
        }
        assert got.get(frase, set()) == expect, frase


def test_mutual_knn_is_symmetric_subset(spark):
    """sim_mutual_knn: every edge is canonical (a < b), appears in
    the kNN graph in BOTH directions, and no mutual pair is missed."""
    from agrobr_spark.queries.similarity import sim_knn_graph, sim_mutual_knn

    graph = {
        (r.vec_id, r.neighbor_id)
        for r in sim_knn_graph(spark, SF_SMOKE).collect()
    }
    mutual = {
        (r.vec_a, r.vec_b) for r in sim_mutual_knn(spark, SF_SMOKE).collect()
    }
    expect = {(a, b) for (a, b) in graph if a < b and (b, a) in graph}
    assert mutual == expect
    assert mutual  # fixture yields a non-trivial mutual set


def test_graph_clusters_partition_property(spark):
    """sim_graph_clusters: `grupo` is a valid partition — every vector
    labeled exactly once, representative = min member id, sizes
    consistent, and every mutual edge lands inside one cluster."""
    from agrobr_spark.queries.similarity import sim_graph_clusters, sim_mutual_knn

    rows = sim_graph_clusters(spark, SF_SMOKE).collect()
    label = {r.vec_id: r.grupo for r in rows}
    assert len(label) == len(rows)  # exactly one row per vector
    by_g: dict[int, set] = {}
    for r in rows:
        by_g.setdefault(r.grupo, set()).add(r.vec_id)
    for r in rows:
        assert r.tamanho == len(by_g[r.grupo])
    for g, members in by_g.items():
        assert g == min(members)
    for e in sim_mutual_knn(spark, SF_SMOKE).collect():
        assert label[e.vec_a] == label[e.vec_b], (e.vec_a, e.vec_b)


def test_ewma_bounded_by_trailing_extremes(spark):
    """w14: every EWMA is a convex combination of the current value
    and up to 7 trailing observations, so it must lie within the
    [min, max] of that 8-row window; head rows are excluded."""
    from collections import defaultdict

    from agrobr_spark.queries.relational import (
        W14_LAGS,
        _serie_diaria,
        w14_ewma_smooth,
    )
    from tests.conftest import SF_SMOKE

    serie = defaultdict(list)
    for r in _serie_diaria(spark, SF_SMOKE).collect():
        serie[r.produto].append((r.data, r.valor))
    for v in serie.values():
        v.sort()
    got = w14_ewma_smooth(spark, SF_SMOKE).collect()
    assert got
    idx = {p: {d: i for i, (d, _) in enumerate(v)} for p, v in serie.items()}
    for r in got:
        i = idx[r.produto][r.data]
        assert i >= 1  # n_obs >= 2 excluded the head row
        window = [v for _, v in serie[r.produto][max(0, i - W14_LAGS + 1): i + 1]]
        assert min(window) - 1e-6 <= r.ewma <= max(window) + 1e-6, r


def test_rolling_zscore_flags_match_reported_z(spark):
    """w15: atipico is exactly |z| > limit; every scored row has a
    trailing window of at least the minimum observations."""
    from agrobr_spark.queries.relational import (
        W15_MIN_OBS,
        W15_Z_LIMIT,
        w15_rolling_zscore,
    )
    from tests.conftest import SF_SMOKE

    rows = w15_rolling_zscore(spark, SF_SMOKE).collect()
    assert rows
    assert any(r.atipico for r in rows) or len(rows) < 50
    for r in rows:
        assert r.n >= W15_MIN_OBS
        assert r.atipico == (abs(r.z) > W15_Z_LIMIT), r


def test_approx_quantiles_contract_and_monotone(spark):
    """a19: every sketch estimate is inside its rank-error band, and
    the exact percentiles are monotone in the quantile per column."""
    from collections import defaultdict

    from agrobr_spark.queries.relational import a19_approx_quantiles
    from tests.conftest import SF_SMOKE

    rows = a19_approx_quantiles(spark, SF_SMOKE).collect()
    assert len(rows) == 12
    by_col = defaultdict(list)
    for r in rows:
        assert r.dentro, r
        by_col[r.coluna].append((r.quantil, r.p_exato))
    for col, pairs in by_col.items():
        pairs.sort()
        vals = [p for _, p in pairs]
        assert vals == sorted(vals), (col, vals)


def test_pagerank_invariants(spark):
    """graph_pagerank mass-unit contract: every node holds at least
    the 0.15 teleport floor, total mass never exceeds n (dangling
    mass leaks, never appears), and in-degree drives rank — the most
    cited node outranks the median node."""
    from agrobr_spark.queries import catalog as _catalog
    from agrobr_spark.queries.similarity import sim_knn_graph
    from tests.conftest import SF_ORACLE

    import pyspark.sql.functions as F

    out = _catalog()["graph_pagerank"].fn(spark, SF_ORACLE)
    rows = out.collect()
    masses = sorted(r["pontuacao"] for r in rows)
    assert all(m >= 0.15 for m in masses)
    # 6dp per-node rounding can add up to 5e-7 each — allow that slack
    assert sum(masses) <= len(masses) * (1 + 1e-6)
    indeg = (
        sim_knn_graph(spark, SF_ORACLE)
        .groupBy("neighbor_id")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.desc("d"), "neighbor_id")
        .limit(1)
        .collect()[0]
    )
    top_mass = {r["vec_id"]: r["pontuacao"] for r in rows}[
        indeg["neighbor_id"]
    ]
    mediana = masses[len(masses) // 2]
    assert top_mass > mediana, (top_mass, mediana)


def test_redistributed_pagerank_requires_exchange_reuse(spark):
    """The redistributed chain's static plan doubles per step; only
    AQE's runtime exchange reuse runs each step once. With either conf
    off, the frame must refuse up front rather than run 2^PR_ITER."""
    import pytest

    from agrobr_spark.queries import catalog as _catalog

    fn = _catalog()["graph_pagerank_redistributed"].fn
    for key in ("spark.sql.exchange.reuse", "spark.sql.adaptive.enabled"):
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "false")
        try:
            with pytest.raises(ValueError, match=key):
                fn(spark, SF_SMOKE)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


def test_admission_evidence_agrees_with_keep_set(spark):
    """The evidence matrix re-derives motivo/mantido from the same
    gate booleans pipeline_keep_set ships — per-doc agreement is
    asserted, not assumed."""
    from agrobr_spark.queries import catalog as _catalog
    from tests.conftest import SF_ORACLE

    cat = _catalog()
    ks = {
        r["doc_id"]: (r["motivo"], r["mantido"])
        for r in cat["pipeline_keep_set"].fn(spark, SF_ORACLE).collect()
    }
    ev = cat["pipeline_admission_evidence"].fn(spark, SF_ORACLE).collect()
    assert len(ev) == len(ks)
    for r in ev:
        assert ks[r["doc_id"]] == (r["motivo"], r["mantido"]), r


def test_anomaly_intervals_coalesce_consecutive_days(spark, tmp_path):
    """w16 islands logic on a constructed series (the sf fixture only
    produces 1-day islands): 3 consecutive spike days coalesce into
    ONE interval, a separated spike stays its own, and normal days
    never appear."""
    import datetime as dt

    import pyspark.sql.functions as F

    from agrobr_spark.queries import catalog as _catalog

    rows = []
    eid = 0
    for day in range(1, 21):
        # baseline 10.0/day; spikes on days 5,6,7 (one island) and 15
        v = 500.0 if day in (5, 6, 7, 15) else 10.0
        rows.append(
            (eid, dt.datetime(2024, 3, day, 12, 0, 0), 1, "ping", v, "{}")
        )
        eid += 1
    schema = ("event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet"))
    out = sorted(
        map(tuple, _catalog()["w16_anomaly_intervals"].fn(
            spark, str(tmp_path)).collect())
    )
    assert len(out) == 2, out
    (t1, i1, f1, n1, _), (t2, i2, f2, n2, _) = out
    assert (i1, f1, n1) == (dt.date(2024, 3, 5), dt.date(2024, 3, 7), 3)
    assert (i2, f2, n2) == (dt.date(2024, 3, 15), dt.date(2024, 3, 15), 1)


def test_mmr_diversity_actually_binds(spark):
    """sim_mmr_rerank on the real fixture: pick 1 equals the pure
    relevance winner, every query returns exactly MMR_K ordered
    picks, and the diversity term changes the set vs pure top-K for
    at least one query (else the operator is decoration)."""
    from agrobr_spark.queries import catalog as _catalog
    from agrobr_spark.queries.similarity import MMR_K, N_QUERIES
    from tests.conftest import SF_ORACLE

    cat = _catalog()
    mmr = cat["sim_mmr_rerank"].fn(spark, SF_ORACLE).collect()
    by_q = {}
    for r in mmr:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == N_QUERIES
    top = cat["sim_cosine_topk"].fn(spark, SF_ORACLE).collect()
    best = {r.query_id: r.vec_id for r in top if r.posicao == 1}
    topk = {(r.query_id, r.vec_id) for r in top if r.posicao <= MMR_K}
    for qid, picks in by_q.items():
        assert sorted(p.posicao for p in picks) == list(
            range(1, MMR_K + 1)
        )
        first = next(p for p in picks if p.posicao == 1)
        assert first.vec_id == best[qid]
    assert {(r.query_id, r.vec_id) for r in mmr} != topk


def _png_rgb_bytes(pixels) -> bytes:
    """Build a real RGB PNG from a pixel matrix, exercising ALL FIVE
    scanline filters (one per row, cycling) so the decoder's
    unfilter paths are covered, not just filter 0."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    h, w = len(pixels), len(pixels[0])
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # rgb8
    raw = bytearray()
    prev = bytes(w * 3)
    for y, row in enumerate(pixels):
        line = b"".join(bytes(px) for px in row)
        ft = y % 5
        raw.append(ft)
        if ft == 0:
            raw += line
        elif ft == 1:  # Sub
            raw += bytes(
                (line[i] - (line[i - 3] if i >= 3 else 0)) & 0xFF
                for i in range(len(line)))
        elif ft == 2:  # Up
            raw += bytes((line[i] - prev[i]) & 0xFF for i in range(len(line)))
        elif ft == 3:  # Average
            raw += bytes(
                (line[i] - (((line[i - 3] if i >= 3 else 0) + prev[i]) >> 1))
                & 0xFF for i in range(len(line)))
        else:  # Paeth
            out = []
            for i in range(len(line)):
                a = line[i - 3] if i >= 3 else 0
                b, c = prev[i], (prev[i - 3] if i >= 3 else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out.append((line[i] - pr) & 0xFF)
            raw += bytes(out)
        prev = line
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))


def test_png_pixel_decode_all_filters():
    """png_decode_pixels round-trips an RGB PNG whose rows cycle all
    five filter types, recovering exact ITU-601 luma values; the
    real_decode image feature is non-zero without PIL for PNG."""
    from agrobr_spark.operators.multimodal import (
        png_decode_pixels,
        real_decode,
    )

    pixels = [
        [((x * 37 + y * 11) % 256, (x * 5) % 256, (y * 91) % 256)
         for x in range(16)]
        for y in range(10)
    ]
    png = _png_rgb_bytes(pixels)
    w, h, rows = png_decode_pixels(png)
    assert (w, h) == (16, 10)
    esperado = [
        [(299 * r + 587 * g + 114 * b) // 1000 for (r, g, b) in row]
        for row in pixels
    ]
    assert rows == esperado
    meta = real_decode(png, "image")
    assert (meta["width"], meta["height"]) == (16, 10)
    assert len(meta["feature"]) == 8
    assert any(v > 0 for v in meta["feature"])  # pixels, not zeros
    # every band is a mean of /255 luma values
    assert all(0.0 <= v <= 1.0 for v in meta["feature"])


def test_components_long_path_graph(spark):
    """Regression for the round-9 iterative-severance bug: on a long
    PATH graph (the mutual-kNN topology distilled) the old
    checkpoint-chained loop doubled its round cost every iteration
    after ~15 rounds (0.6 s -> 93 s by round 20 at sf0.1) and
    overran max_iter=25. The parquet-severed loop must converge flat
    and label every node with the path's minimum id."""
    from agrobr_spark.operators.components import connected_components

    n = 64  # ~32 propagation rounds — past the old 25-round ceiling
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    out = {r["id"]: r["componente"]
           for r in connected_components(
               edges, "a", "b", driver_max_sym_edges=0
           ).collect()}
    assert len(out) == n
    assert set(out.values()) == {0}


def _toy_vectors(spark, n=60, dim=8, seed=7):
    """Deterministic clustered toy corpus: hash-derived unit-ish
    vectors in ``n // 10`` directions plus a small per-id wobble, so
    clusters are real and ids do NOT correlate with content order."""
    rows = []
    for i in range(n):
        g = (i * 7 + seed) % 6  # 6 directions, shuffled over ids
        v = [0.05 * (((i * 31 + d * 17) % 19) - 9) for d in range(dim)]
        v[g] += 3.0
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_knn_store_incremental_equals_rebuild(spark, tmp_path):
    """operators/knn_store.py (r9 VERDICT next #1): corpus build +
    per-batch folds must land the EXACT edge table a one-shot
    frozen-centroid rebuild over corpus ∪ batches computes — the
    insert-only top-k folding identity, on a fixture where batches
    create cross-batch mutual neighbors."""
    from agrobr_spark.operators.knn_store import (
        build_knn_graph_index,
        knn_graph_frozen_edges,
        read_knn_graph,
        update_knn_graph_frame,
    )

    emb = _toy_vectors(spark)
    corpus = emb.filter("vec_id < 40")
    store = str(tmp_path / "knn")
    build_knn_graph_index(corpus, store, k=3, n_probe=2, n_centroids=6)
    for lo in (40, 50):
        update_knn_graph_frame(
            spark,
            emb.filter(f"vec_id >= {lo} and vec_id < {lo + 10}"),
            store,
            k=3,
            n_probe=2,
        )
    got = sorted(tuple(r) for r in read_knn_graph(spark, store).collect())

    import pyspark.sql.functions as F

    cent = (
        corpus.orderBy("vec_id")
        .limit(6)
        .select(
            F.col("vec_id").alias("_cid"), F.col("embedding").alias("_cv")
        )
    )
    want = sorted(
        tuple(r)
        for r in knn_graph_frozen_edges(emb, cent, k=3, n_probe=2).collect()
    )
    assert got == want
    assert len(got) > 0
    # batch nodes actually entered the graph (both roles)
    assert any(r[0] >= 40 for r in got)
    assert any(r[1] >= 40 for r in got if r[0] < 40)


def test_knn_fold_empty_batch_noop(spark, tmp_path):
    """An EMPTY batch through all three folds (edge, label, rank) must
    return empty frames with the normal schemas and leave every store
    byte-identical — the r13 empty-delta fast path (a replayed empty
    epoch or a watermark-advance trigger delivers zero rows; the fold
    chain must no-op in O(1) jobs, not run its full machinery over
    empty frames)."""
    from agrobr_spark.operators.knn_store import (
        _labels_store,
        _comp_labels_store,
        _pranks_store,
        _stores,
        build_graph_labels,
        build_graph_pageranks,
        build_knn_graph_index,
        update_graph_labels_frame,
        update_graph_pageranks_frame,
        update_knn_graph_frame,
    )

    emb = _toy_vectors(spark)
    corpus = emb.filter("vec_id < 40")
    store = str(tmp_path / "knn")
    build_knn_graph_index(corpus, store, k=3, n_probe=2, n_centroids=6)
    build_graph_labels(spark, store, corpus.select("vec_id"))
    build_graph_pageranks(spark, store)

    def state():
        m, p, e = _stores(spark, store)
        return (
            sorted(tuple(r) for r in m.read().collect()),
            sorted(tuple(r) for r in p.read().collect()),
            sorted(tuple(r) for r in e.read().collect()),
            sorted(
                tuple(r)
                for r in _labels_store(spark, store).read().collect()
            ),
            sorted(
                tuple(r)
                for r in _comp_labels_store(spark, store).read().collect()
            ),
            sorted(
                tuple(r)
                for r in _pranks_store(spark, store).read().collect()
            ),
        )

    s0 = state()
    empty = emb.filter("vec_id < 0")
    staged = update_knn_graph_frame(spark, empty, store, k=3, n_probe=2)
    assert staged.columns == [
        "balde", "vec_id", "neighbor_id", "posicao", "cosseno",
    ]
    assert staged.count() == 0
    probe: dict = {}
    relabeled = update_graph_labels_frame(
        spark,
        staged.select("vec_id").unionByName(empty.select("vec_id")),
        store,
        probe=probe,
    )
    assert relabeled.columns == ["vec_id", "componente"]
    assert relabeled.count() == 0
    assert probe == {
        "touched_components": [],
        "moved_from_buckets": [],
        "n_delta": 0,
    }
    ranked = update_graph_pageranks_frame(spark, relabeled, store)
    assert ranked.columns == ["vec_id", "componente", "pontuacao"]
    assert ranked.count() == 0
    assert state() == s0


def test_knn_store_replay_idempotent(spark, tmp_path):
    """Replaying an already-applied batch must leave every store
    byte-identical (the test_admission.py replay discipline): pair-key
    dedupe collapses regenerated candidates and all three MERGEs are
    PK-last-writer-wins, so no applied-batch-ids manifest is needed."""
    from agrobr_spark.operators.knn_store import (
        _stores,
        build_knn_graph_index,
        update_knn_graph_frame,
    )

    emb = _toy_vectors(spark)
    corpus = emb.filter("vec_id < 40")
    batch = emb.filter("vec_id >= 40")
    store = str(tmp_path / "knn")
    build_knn_graph_index(corpus, store, k=3, n_probe=2, n_centroids=6)
    update_knn_graph_frame(spark, batch, store, k=3, n_probe=2)

    def state():
        m, p, e = _stores(spark, store)
        return (
            sorted(
                (r["vec_id"], r["cid"], r["nrm"])
                for r in m.read().collect()
            ),
            sorted((r["vec_id"], r["cid"]) for r in p.read().collect()),
            sorted(tuple(r) for r in e.read().collect()),
        )

    s1 = state()
    update_knn_graph_frame(spark, batch, store, k=3, n_probe=2)  # replay
    assert state() == s1


def test_knn_store_update_touches_only_affected(spark, tmp_path):
    """The incremental update's scale contract, pinned by VOLUME and
    PLAN rather than toy-scale wall clocks: for a small batch, (a) the
    re-ranked edge staging holds only affected nodes' rows — a small
    fraction of the table, (b) the current-edge read carries a
    ``balde IN`` partition filter (pruned scan at the manifest-frozen
    width), and (c) untouched nodes' edge rows are byte-identical
    after the update."""
    import pyspark.sql.functions as F

    from agrobr_spark.operators import knn_store as K

    emb = _toy_vectors(spark, n=240)
    corpus = emb.filter("vec_id < 236")
    batch = emb.filter("vec_id >= 236")  # 4 vectors
    store = str(tmp_path / "knn")
    # fine buckets so bucket pruning is observable (~4 nodes/bucket)
    K.build_knn_graph_index(
        corpus, store, k=3, n_probe=2, n_centroids=24, edge_buckets=64
    )
    _, _, edges = K._stores(spark, store)
    before = {
        (r["vec_id"], r["posicao"]): (r["neighbor_id"], r["cosseno"])
        for r in edges.read().collect()
    }
    total = len(before)

    staged = K.update_knn_graph_frame(spark, batch, store, k=3, n_probe=2)
    staged_ids = {r["vec_id"] for r in staged.select("vec_id").collect()}
    n_staged = staged.count()
    # (a) bounded volume: only affected nodes re-ranked, not the table
    assert n_staged < 0.5 * total, (n_staged, total)
    # (b) pruned read: the plan the update builds for current edges
    nb = K._read_meta(spark, store)["edge_buckets"]
    assert nb == 64
    some = spark.createDataFrame(
        [(236,), (1,)], "vec_id long"
    )
    pruned = edges.read().filter(
        F.col("balde").isin([236 % 64, 1 % 64])
    ).join(F.broadcast(some), "vec_id", "semi")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [balde" in plan.replace("#", ""), plan
    # (b') the member/probe reads prune on the cid BUCKET the same way
    # (r11: per-cid partition dirs were the dominant metadata term)
    mstore, _, _ = K._stores(spark, store)
    ncb = K._read_meta(spark, store)["cid_buckets"]
    mpruned = mstore.read().filter(
        F.col("cbalde").isin([0 % ncb]) & F.col("cid").isin([0])
    )
    import re as _re

    mplan = mpruned._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"PartitionFilters: \[[^\]]*cbalde", mplan), mplan
    # (c) untouched nodes unchanged
    after = {
        (r["vec_id"], r["posicao"]): (r["neighbor_id"], r["cosseno"])
        for r in edges.read().collect()
    }
    for key, val in before.items():
        if key[0] not in staged_ids:
            assert after[key] == val


def test_graph_labels_incremental_split_and_merge(spark, tmp_path):
    """update_graph_labels_frame must handle the two events that make
    incremental connected components NOT merge-only: a batch vector C
    landing between a mutual pair (A, B) EVICTS each from the other's
    top-1 — the old {A, B} component SPLITS — while (A, C) becomes a
    new mutual pair (MERGE with the new node). Hand-built geometry,
    k=1, frozen lowest-id centroids; plus label replay idempotence.

    Also pins the labels_by_comp SECONDARY layout (r12): forced
    edge_buckets=4 makes the split/merge relabels MOVE rows across
    cbalde partitions (5: comp 4→5 crosses cbalde 0→1), so the
    secondary must stay row-identical to the primary through the
    fold AND the replay — stale copies deduped, no duplicate PK."""
    from agrobr_spark.operators.knn_store import (
        _comp_labels_store,
        _labels_store,
        build_graph_labels,
        build_knn_graph_index,
        update_graph_labels_frame,
        update_knn_graph_frame,
    )

    def vec(*xs):
        return [float(x) for x in xs]

    corpus = spark.createDataFrame(
        [
            (0, vec(3, 0, 0, 0)),     # centroid c0
            (1, vec(0, 3, 0, 0)),     # centroid c1
            (2, vec(0, 0, 3, 0)),     # centroid c2
            (3, vec(0, 0, 0, 3)),     # centroid c3
            (4, vec(2, 1, 0, 0)),     # A — mutual with B at build
            (5, vec(2, 1.1, 0, 0)),   # B
        ],
        "vec_id long, embedding array<float>",
    )
    batch = spark.createDataFrame(
        [(6, vec(2, 1.05, 0, 0))],    # C — between A and B
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path / "knn")
    build_knn_graph_index(
        corpus, store, k=1, n_probe=2, n_centroids=4, edge_buckets=4
    )
    build_graph_labels(spark, store, corpus.select("vec_id"))
    lab0 = {
        r["vec_id"]: r["componente"]
        for r in _labels_store(spark, store).read().collect()
    }
    assert lab0 == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 4}  # {A,B} mutual

    def secondary_rows():
        return sorted(
            (r["vec_id"], r["componente"], r["cbalde"])
            for r in _comp_labels_store(spark, store).read().collect()
        )

    def primary_as_secondary():
        return sorted(
            (r["vec_id"], r["componente"], r["componente"] % 4)
            for r in _labels_store(spark, store).read().collect()
        )

    assert secondary_rows() == primary_as_secondary()

    staged = update_knn_graph_frame(spark, batch, store, k=1, n_probe=2)
    changed = staged.select("vec_id").unionByName(batch.select("vec_id"))
    update_graph_labels_frame(spark, changed, store)

    def labels():
        return {
            r["vec_id"]: r["componente"]
            for r in _labels_store(spark, store).read().collect()
        }

    # C sits a hair closer to B (cos 0.999812) than to A (0.999804):
    # A and B both re-point at C — the old {A, B} mutual pair SPLITS —
    # and (B, C) is the new mutual pair (MERGE with the new node);
    # A's edge to C stays one-sided, so A drops to a singleton.
    want = {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 5}
    assert labels() == want
    # the secondary layout followed the move (5: comp 4→5 is cbalde
    # 0→1) with the stale cbalde=0 copy deduped out
    assert secondary_rows() == primary_as_secondary()

    # replay: both folds recompute the same state — labels unchanged
    staged2 = update_knn_graph_frame(spark, batch, store, k=1, n_probe=2)
    update_graph_labels_frame(
        spark, staged2.select("vec_id").unionByName(batch.select("vec_id")),
        store,
    )
    assert labels() == want
    assert secondary_rows() == primary_as_secondary()

    # the componente→members leg PARTITION-PRUNES the secondary layout
    # (the whole point of maintaining it): plan carries a cbalde filter
    import re as _re

    leg = (
        _comp_labels_store(spark, store)
        .read()
        .filter(F.col("cbalde").isin([1]))
        .filter(F.col("componente").isin([5]))
    )
    lplan = leg._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"PartitionFilters: \[[^\]]*cbalde", lplan), lplan

    # a pre-secondary-layout store fails LOUDLY, like the cid_buckets
    # guard — never a missing-path read that hides the cause
    import shutil

    shutil.rmtree(f"{store}/labels_by_comp")
    import pytest

    with pytest.raises(ValueError, match="labels_by_comp"):
        update_graph_labels_frame(spark, batch.select("vec_id"), store)


def test_graph_pageranks_incremental_equals_rebuild(spark, tmp_path):
    """operators/knn_store.py pagerank store (r10 VERDICT next #1):
    corpus build + per-batch folds (edges -> labels -> ranks) must
    land EXACTLY the ranks a one-shot rebuild over corpus ∪ batches
    computes — the per-component decomposition is exact, not
    approximate — and nodes outside the touched components must keep
    their pre-fold ranks byte-identically (the frozen-rank half of
    the same claim)."""
    from agrobr_spark.operators.knn_store import (
        _pranks_store,
        build_graph_labels,
        build_graph_pageranks,
        build_knn_graph_index,
        read_graph_pageranks,
        update_graph_labels_frame,
        update_graph_pageranks_frame,
        update_knn_graph_frame,
    )

    emb = _toy_vectors(spark)
    # batch confined to ONE direction group (g = (7i+7) % 6 == 0) so
    # other directions' components provably stay untouched; corpus =
    # everything else, so the rebuild's lowest-id frozen centroids
    # (ids 0-5) match the incremental store's
    batch_ids = (41, 47, 53, 59)
    corpus = emb.filter(~F.col("vec_id").isin(list(batch_ids)))
    store = str(tmp_path / "knn")
    build_knn_graph_index(corpus, store, k=3, n_probe=2, n_centroids=6)
    build_graph_labels(spark, store, corpus.select("vec_id"))
    build_graph_pageranks(spark, store)
    pre = {
        r["vec_id"]: (r["componente"], r["pontuacao"])
        for r in _pranks_store(spark, store).read().collect()
    }

    batch = emb.filter(F.col("vec_id").isin(list(batch_ids)))
    staged = update_knn_graph_frame(spark, batch, store, k=3, n_probe=2)
    relabeled = update_graph_labels_frame(
        spark,
        staged.select("vec_id").unionByName(batch.select("vec_id")),
        store,
    )
    ranked = update_graph_pageranks_frame(spark, relabeled, store)
    touched_all = {r["vec_id"] for r in ranked.collect()}
    got = sorted(
        tuple(r) for r in read_graph_pageranks(spark, store).collect()
    )

    # one-shot rebuild: same lowest-id frozen centroids (corpus ids
    # precede batch ids, so the union picks the identical 6)
    store2 = str(tmp_path / "knn2")
    build_knn_graph_index(emb, store2, k=3, n_probe=2, n_centroids=6)
    build_graph_labels(spark, store2, emb.select("vec_id"))
    build_graph_pageranks(spark, store2)
    want = sorted(
        tuple(r) for r in read_graph_pageranks(spark, store2).collect()
    )
    assert got == want
    assert len(got) == 60

    # frozen-rank half: never-touched nodes carry pre-fold ranks
    after = {
        r["vec_id"]: (r["componente"], r["pontuacao"])
        for r in _pranks_store(spark, store).read().collect()
    }
    untouched = set(pre) - touched_all
    assert untouched, "fixture degenerated: every node touched"
    for vid in untouched:
        assert after[vid] == pre[vid]


def test_graph_pageranks_replay_idempotent(spark, tmp_path):
    """Replaying an applied batch through all three folds must leave
    the rank store byte-identical: same labels + same edges feed the
    same deterministic integer micro-mass trajectory, and the MERGE
    is PK-last-writer-wins."""
    from agrobr_spark.operators.knn_store import (
        _pranks_store,
        build_graph_labels,
        build_graph_pageranks,
        build_knn_graph_index,
        update_graph_labels_frame,
        update_graph_pageranks_frame,
        update_knn_graph_frame,
    )

    emb = _toy_vectors(spark)
    corpus = emb.filter("vec_id < 40")
    batch = emb.filter("vec_id >= 40")
    store = str(tmp_path / "knn")
    build_knn_graph_index(corpus, store, k=3, n_probe=2, n_centroids=6)
    build_graph_labels(spark, store, corpus.select("vec_id"))
    build_graph_pageranks(spark, store)

    def fold():
        staged = update_knn_graph_frame(
            spark, batch, store, k=3, n_probe=2
        )
        relabeled = update_graph_labels_frame(
            spark,
            staged.select("vec_id").unionByName(batch.select("vec_id")),
            store,
        )
        update_graph_pageranks_frame(spark, relabeled, store)

    fold()
    s1 = sorted(
        tuple(r) for r in _pranks_store(spark, store).read().collect()
    )
    fold()  # replay
    s2 = sorted(
        tuple(r) for r in _pranks_store(spark, store).read().collect()
    )
    assert s2 == s1


def test_knn_store_no_file_accretion_across_folds(spark, tmp_path):
    """r10 VERDICT next #7: the graph stores (members/probes/edges +
    labels/pranks) rewrite partitions via dynamic partition overwrite,
    so they must NOT accrete files across folds the way a naive
    append-per-epoch store does (the small-files failure the posting
    index needed compaction for). 10 single-vector folds into
    existing clusters: data-file count stays flat (bounded jitter
    from per-fold task layout), where append-only would add >= one
    file set per fold per store."""
    import os

    from agrobr_spark.operators.knn_store import (
        build_graph_labels,
        build_graph_pageranks,
        build_knn_graph_index,
        update_graph_labels_frame,
        update_graph_pageranks_frame,
        update_knn_graph_frame,
    )

    emb = _toy_vectors(spark)
    corpus = emb.filter("vec_id < 40")
    store = str(tmp_path / "knn")
    build_knn_graph_index(corpus, store, k=3, n_probe=2, n_centroids=6)
    build_graph_labels(spark, store, corpus.select("vec_id"))
    build_graph_pageranks(spark, store)

    def data_files() -> int:
        n = 0
        for root, _dirs, files in os.walk(store):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    counts = []
    for vid in range(40, 50):
        batch = emb.filter(f"vec_id = {vid}")
        staged = update_knn_graph_frame(
            spark, batch, store, k=3, n_probe=2
        )
        relabeled = update_graph_labels_frame(
            spark,
            staged.select("vec_id").unionByName(batch.select("vec_id")),
            store,
        )
        update_graph_pageranks_frame(spark, relabeled, store)
        counts.append(data_files())

    # flat, not monotone: jitter from task layout is a handful of
    # files; append-per-fold across 5 tables would be >= 9 * 5 more
    assert counts[-1] <= counts[0] + 4, counts
    assert max(counts) <= counts[0] + 6, counts


def test_knn_store_rejects_negative_ids(spark, tmp_path):
    """r12 VERDICT What's wrong #3: the driver-side bucket arithmetic
    (`c % nb` over collected ids) and the componente=min(vec_id)
    labeling both assume non-negative ids — enforce it at ingest
    (build and batch paths) instead of trusting the Python-%/pmod
    equivalence to survive future edits."""
    import pytest

    from agrobr_spark.operators.knn_store import (
        build_knn_graph_index,
        update_knn_graph_frame,
    )

    bad = spark.createDataFrame(
        [(-1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="non-negative"):
        build_knn_graph_index(
            bad, str(tmp_path / "bad"), k=1, n_probe=1, n_centroids=2
        )

    ok = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.7, 0.7])],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path / "ok")
    build_knn_graph_index(ok, store, k=1, n_probe=1, n_centroids=2)
    neg_batch = spark.createDataFrame(
        [(-5, [0.6, 0.8])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="non-negative"):
        update_knn_graph_frame(spark, neg_batch, store, k=1, n_probe=1)


def test_knn_store_rejects_empty_centroids(spark, tmp_path):
    """A non-empty corpus that no centroid takes (an empty centroid
    frame) must raise, not build with n_corpus=0 bucket widths."""
    import pytest

    from agrobr_spark.operators.knn_store import build_knn_graph_index

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    no_centroids = spark.createDataFrame([], "_cid long, _cv array<float>")
    with pytest.raises(ValueError, match="no corpus vector"):
        build_knn_graph_index(
            corpus, str(tmp_path / "s"), k=1, n_probe=1,
            centroids=no_centroids,
        )
