"""Deterministic power-iteration PageRank over an explicit edge frame.

The shared loop behind the batch per-component entry
(`queries/similarity.py:graph_pagerank_components`) and the
incrementally-maintained rank store (`operators/knn_store.py`
build/update): callers decide WHICH edges participate (full graph,
cluster-induced subgraph, or only the touched components' induced
subgraph on a micro-batch fold) and this module guarantees the
trajectory is bit-identical regardless of how the node set was
partitioned — the property that makes per-component maintenance
EXACT rather than approximate.

Why per-component decomposition is exact: the update
``r_v = 0.15 + d * Σ_{(u,v)∈E} round(r_u / outdeg(u), 6)`` couples a
node only to its in-neighbors, so when the edge set is a disjoint
union over cluster labels (every edge stays inside one label), the
trajectory of any node depends solely on nodes of its own label.
Recomputing ONE label's nodes over that label's induced edges yields
byte-identical ranks to a global run over the disjoint union — no
approximation, no convergence argument needed; the fixed-iteration
trajectories are literally the same arithmetic. (The REDISTRIBUTED
variant breaks this on purpose: its per-iteration dangling quota sums
over every node, which is why `graph_pagerank_redistributed` stays
rebuild-only — documented in its docstring, per r10 VERDICT next #1.)

Determinism discipline — INTEGER MICRO-MASS (stricter than the
`graph_pagerank` 6dp-decimal pin): ranks live as BIGINT micro-units
(r0 = 1,000,000 = mass 1). Per edge, c = floor(r/outdeg + 0.5) — an
IEEE division of exact integers, bit-identical in both engines, then
half-up via floor on the same double. In-sums are exact BIGINT sums
(order-free, no decimal needed), and the update is
150,000 + floor(0.85·insum + 0.5) — again IEEE-identical inputs into
the same floor. The final ``pontuacao`` is one shared division
r/1e6. NOTHING here calls an engine ``round()``: Spark's
HALF_UP-on-BigDecimal.valueOf (shortest-string!) and DuckDB's
binary-double rounding disagree whenever a value's shortest repr
lands on a digit-7 tie — measured on this very query (0.86324 vs
0.863239), which is why the older 6dp-decimal discipline was not
carried over.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: fixed power-iteration count / damping — shared with the batch
#: entries (similarity.py re-exports these as PR_ITER / PR_DAMP; the
#: teleport literal is 0.15, NOT 1-damp: 1-0.85 is
#: 0.15000000000000002 in IEEE double)
PR_ITER = 5
PR_DAMP = 0.85


def pagerank_mass(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = PR_ITER,
    damp: float = PR_DAMP,
) -> DataFrame:
    """Run ``iters`` fixed power iterations over ``edges`` (columns
    ``src``, ``dst``) for every node in ``nodes`` (column ``vec_id``)
    and return (vec_id, pontuacao) in mass units (double, = exact
    micro-mass / 1e6). Nodes without out-edges contribute nothing
    (dangling mass dropped — the documented `graph_pagerank` trade);
    nodes without in-edges settle at the teleport floor 0.15.

    Each iteration is ONE hash equi-join of the edge frame against
    the rank vector plus ONE keyed aggregation; the Python loop only
    unrolls the plan. The unrolled chain is composed LAZILY into one
    job (r13): each iteration's rank frame is referenced exactly once
    by the next (in ``contrib``), so the plan is a linear chain —
    no shared subtree to recompute, no exponential growth — and the
    fixed iteration count bounds its depth at ``iters`` join/agg
    levels, well inside Catalyst's comfort zone. The pre-r13 version
    localCheckpointed every step (one job + full materialization per
    iteration, 5 jobs per PageRank call); lazy composition runs the
    whole trajectory as ONE job with the same shuffle count — the
    per-fold saving that matters in the incremental rank store, which
    calls this loop once per micro-batch. (The REDISTRIBUTED variant
    in queries/similarity.py composes lazily too since r14: its
    dangling quota rides the contribution pass as the left join's
    unmatched rows, so each rank frame is referenced once. "Once"
    holds per rank frame, not per aggregate: that loop reads each
    step's contribution aggregate twice (in-edge sums and dangling
    quota), so its static plan doubles per iteration, and its cost at
    PR_ITER=5 relies on AQE runtime exchange reuse; raising PR_ITER or
    disabling reuse makes execution O(2^iters), so that frame raises
    when AQE or exchange reuse is off.) At 100 TB
    with many iterations, per-step persisted tables remain the
    standard Pregel-style fallback; at the fixed PR_ITER-step
    trajectory the linear chain is strictly cheaper."""
    half = F.lit(0.5)
    nodes = nodes.select("vec_id").localCheckpoint(eager=True)
    outdeg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("outdeg")
    )
    e = edges.join(outdeg, "src").localCheckpoint(eager=True)
    # micro-mass: bigint throughout, IEEE only inside floor(x + 0.5)
    r = nodes.select(
        "vec_id", F.lit(1_000_000).cast("bigint").alias("r")
    )
    for _ in range(iters):
        contrib = e.join(r, e["src"] == r["vec_id"]).select(
            "dst",
            F.floor(F.col("r") / F.col("outdeg") + half)
            .cast("bigint")
            .alias("c"),
        )
        insum = contrib.groupBy("dst").agg(
            F.sum("c").cast("bigint").alias("s")
        )
        r = nodes.join(insum, nodes["vec_id"] == insum["dst"], "left").select(
            "vec_id",
            (
                F.lit(150_000).cast("bigint")
                + F.floor(
                    F.lit(damp) * F.coalesce("s", F.lit(0)) + half
                ).cast("bigint")
            ).alias("r"),
        )
    return r.select(
        "vec_id",
        (F.col("r").cast("double") / F.lit(1_000_000.0)).alias(
            "pontuacao"
        ),
    )


def induced_edges(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Restrict directed ``edges`` (vec_id, neighbor_id) to pairs
    whose endpoints share a label in ``labels`` (vec_id, grupo) —
    the cluster-induced subgraph union. Two hash equi-joins on the
    node key; at 100 TB both sides shuffle on vec_id once and the
    label frame is the (much smaller) per-node pair."""
    ls = labels.select(
        F.col("vec_id").alias("src"), F.col("grupo").alias("g_src")
    )
    ld = labels.select(
        F.col("vec_id").alias("dst"), F.col("grupo").alias("g_dst")
    )
    return (
        edges.select(
            F.col("vec_id").alias("src"),
            F.col("neighbor_id").alias("dst"),
        )
        .join(ls, "src")
        .join(ld, "dst")
        .filter(F.col("g_src") == F.col("g_dst"))
        .select("src", "dst")
    )
