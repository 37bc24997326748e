"""Physical-plan audits: the scale posture README claims, asserted.

These tests mostly never execute a job (queries that pin intermediates
with an eager localCheckpoint at build time — the admit/fold/near-dup
families — do run their pinned legs) — they compile each query and assert
properties of the Catalyst physical plan: predicate pushdown reaches
the parquet scan, projections prune the read schema, small dims
broadcast, top-k compiles to TakeOrderedAndProject (no full sort), and
aggregations are partial (map-side combine, one shuffle). A regression
that silently de-optimizes a plan fails here even though results stay
correct.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_SMOKE


def plan_of(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


@pytest.fixture(scope="module")
def cat():
    from agrobr_spark.queries import catalog

    return catalog()


@pytest.fixture(scope="module")
def catalog_plans(spark, cat):
    """Formatted plan of EVERY catalog query, built ONCE per module.

    The two catalog-wide audits below (no CartesianProduct, no
    BatchEvalPython) used to build all ~200 query frames EACH — and
    building a frame executes the store/stream queries' pinned legs,
    so the pair cost ~420 s of the default suite (r14: the driver's
    pytest window is the binding constraint). One shared pass keeps
    both assertions over the identical plan set at half the wall."""
    return {
        name: plan_of(entry.fn(spark, SF_SMOKE))
        for name, entry in cat.items()
    }


class TestPushdownAndPruning:
    def test_date_filter_reaches_scan(self, spark, cat):
        plan = plan_of(cat["p4_date_range"].fn(spark, SF_SMOKE))
        assert "PushedFilters: [IsNotNull(o_orderdate)" in plan
        assert "GreaterThanOrEqual(o_orderdate" in plan

    def test_equality_filter_reaches_scan(self, spark, cat):
        plan = plan_of(cat["p2_eq_filter"].fn(spark, SF_SMOKE))
        assert "PushedFilters: [" in plan

    def test_projection_prunes_read_schema(self, spark, cat):
        plan = plan_of(cat["p1_project_rename"].fn(spark, SF_SMOKE))
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert schemas, plan
        # the rename-projection must not drag unused columns through
        # the scan: every read field is one the query outputs
        read_cols = {f.split(":")[0] for s in schemas for f in s.split(",") if f}
        assert len(read_cols) <= 6, read_cols

    def test_store_scan_prunes_columns(self, spark, cat):
        plan = plan_of(cat["s8_store_scan"].fn(spark, SF_SMOKE))
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        read_cols = {f.split(":")[0] for s in schemas for f in s.split(",") if f}
        # 16-column lineitem: the store shape needs only 6
        assert len(read_cols) <= 6, read_cols


class TestJoinStrategy:
    def test_dims_broadcast_in_enrich_chain(self, spark, cat):
        plan = plan_of(cat["j1_fact_dim_enrich"].fn(spark, SF_SMOKE))
        assert plan.count("BroadcastHashJoin") >= 2, plan

    def test_small_dim_lookup_broadcasts(self, spark, cat):
        plan = plan_of(cat["j6_small_dim_lookup"].fn(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan

    def test_dedup_dim_join_broadcasts(self, spark, cat):
        plan = plan_of(cat["j5_dedup_dim_join"].fn(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan

    def test_no_cartesian_in_relational_catalog(self, catalog_plans):
        # all-pairs is only ever intentional (embedding brute-force
        # baseline); every relational/agg/window plan must be free of
        # CartesianProduct
        for name, plan in catalog_plans.items():
            if name.startswith(("dedup_embedding", "sim_", "mm_")):
                continue
            assert "CartesianProduct" not in plan, name

    def test_embedding_cosine_is_block_equi_join(self, spark, cat):
        # the exact all-pairs cosine must run as the triangle block
        # EQUI-join (operators/allpairs.py), never as the non-equi
        # nested-loop self-join (round-1 scale-killer)
        plan = plan_of(cat["dedup_embedding_cosine"].fn(spark, SF_SMOKE))
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_near_dup_default_has_no_full_pair_stage(self, spark, cat):
        # the scale-default embedding near-dup (VERDICT r2 #3): the
        # pair stage must be an equi-join on the cluster key — with
        # the r13 assignment pin, the returned plan joins checkpoint
        # scans, so NO nested loop (the centroid sweep ran inside the
        # materialization) and certainly no corpus × corpus product
        plan = plan_of(cat["near_dup_embeddings"].fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        # the pair self-join is keyed on the cluster id (formatted
        # explain lists equi-join keys as "Left keys" detail lines)
        key_lines = [ln for ln in plan.splitlines() if "Left keys" in ln]
        assert key_lines and any("_blk" in ln for ln in key_lines), plan

    def test_cluster_pairs_lazy_shape_is_centroid_sweep(self, spark):
        # the UN-materialized operator keeps the round-2 discipline
        # visible: nested loops only against the broadcast centroid
        # build side (O(C·n) rows), never a corpus × corpus product
        from agrobr_spark.operators.allpairs import cluster_cosine_pairs
        from agrobr_spark.io import load

        df = cluster_cosine_pairs(
            load(spark, SF_SMOKE, "embeddings"),
            id_col="vec_id",
            vec_col="embedding",
            threshold=0.45,
            n_centroids=8,
            centroid_fit="lowest_id",
            materialize=False,
        )
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, plan
        key_lines = [ln for ln in plan.splitlines() if "Left keys" in ln]
        assert key_lines and any("_blk" in ln for ln in key_lines), plan
        tree_nlj = [
            ln for ln in plan.splitlines()
            if "BroadcastNestedLoopJoin" in ln and "Build" in ln
        ]
        assert tree_nlj and all("BuildRight" in ln for ln in tree_nlj), plan


class TestSortAndAggShape:
    def test_topk_compiles_to_take_ordered(self, spark, cat):
        plan = plan_of(cat["o2_desc_recency"].fn(spark, SF_SMOKE))
        assert "TakeOrderedAndProject" in plan
        # a full Sort exchange would be a scale bug for a LIMIT query
        assert "Exchange rangepartitioning" not in plan

    def test_rollup_is_partial_aggregation(self, spark, cat):
        plan = plan_of(cat["a1_rollup_sum"].fn(spark, SF_SMOKE))
        # map-side combine: partial + final HashAggregate around ONE
        # hash exchange
        assert plan.count("HashAggregate") >= 2
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
        assert "hashpartitioning" in plan

    def test_whole_stage_codegen_everywhere(self, spark, cat):
        # scalar-function chains must stay JVM-side: the pt-BR number
        # parse plan is a single codegen'd stage over the scan
        plan = plan_of(cat["f1_ptbr_number_parse"].fn(spark, SF_SMOKE))
        assert "[codegen id" in plan  # whole-stage codegen'd
        assert "BatchEvalPython" not in plan

    def test_no_python_udf_in_catalog_hot_paths(self, catalog_plans):
        # mm_* are the documented Arrow/pandas exceptions
        for name, plan in catalog_plans.items():
            if name.startswith("mm_"):
                continue
            assert "BatchEvalPython" not in plan, name


class TestTrainingPrepPlans:
    def test_data_mix_window_is_hash_partitioned(self, spark, cat):
        # the data-sized running-sum window must be keyed by
        # (source, bucket) — never a per-source (let alone global)
        # single-task sort (operators/prefix.py contract)
        plan = plan_of(cat["pipeline_data_mix"].fn(spark, SF_SMOKE))
        assert re.search(r"hashpartitioning\(source[^)]*balde", plan), plan

    def test_pack_chunks_window_is_hash_partitioned(self, spark, cat):
        plan = plan_of(cat["pipeline_pack_chunks"].fn(spark, SF_SMOKE))
        assert re.search(r"hashpartitioning\(balde", plan), plan
        # final per-chunk rollup is an ordinary partial+final agg
        assert plan.count("HashAggregate") >= 2

    def test_span_dedup_joins_on_span_hash(self, spark, cat):
        plan = plan_of(cat["text_span_dedup"].fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan
        key_lines = [ln for ln in plan.splitlines() if "Left keys" in ln]
        assert key_lines and any(
            re.search(r"\bs#", ln) for ln in key_lines
        ), plan

    def test_rp_lsh_candidates_are_equi_join(self, spark, cat):
        # candidate generation must be a hash equi-join on
        # (tabela, balde) against the broadcast probe side — the only
        # acceptable shape for a bucketed ANN at scale
        plan = plan_of(cat["sim_rp_lsh_ann"].fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BroadcastHashJoin" in plan
        key_lines = [ln for ln in plan.splitlines() if "Left keys" in ln]
        assert any("balde" in ln or "tabela" in ln for ln in key_lines), plan


class TestRound7Additions:
    def test_chunk_overlap_is_shuffle_free(self, spark, cat):
        """Sliding-window chunking is a pure narrow plan: scan →
        project → generate — zero exchanges, zero joins."""
        plan = plan_of(cat["pipeline_chunk_overlap"].fn(spark, SF_SMOKE))
        assert "Exchange" not in plan, plan
        assert "Join" not in plan, plan
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan

    def test_unigram_surprise_broadcasts_vocab(self, spark, cat):
        """The term-frequency join must be a broadcast hash join (the
        vocab fits) and the corpus-total join a 1-row broadcast — no
        real CartesianProduct, no sort-merge on the token stream."""
        plan = plan_of(cat["text_unigram_surprise"].fn(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan

    def test_perplexity_buckets_single_window(self, spark, cat):
        """One per-lang window (the documented ntile hazard) and
        nothing else sorts globally."""
        plan = plan_of(cat["text_perplexity_buckets"].fn(spark, SF_SMOKE))
        assert plan.count("Window") >= 1
        assert "CartesianProduct" not in plan


class TestBloomPrune:
    def test_bloom_prune_is_broadcast_and_pruned_scan(self, spark, cat):
        """j9: both bitmap probes and the final key set reach the fact
        side as BroadcastHashJoins (the fact table is never shuffled
        until the post-semi-join aggregation), and the lineitem scan
        reads only the three projected columns."""
        plan = plan_of(cat["j9_bloom_semi_join"].fn(spark, SF_SMOKE))
        assert len(re.findall(r"BroadcastHashJoin", plan)) >= 3, plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        m = re.search(r"lineitem[^\n]*\n(?:.*\n)*?.*ReadSchema: ([^\n]*)", plan)
        assert m and "l_orderkey" in m.group(1)
        assert "l_comment" not in plan


class TestRetrievalAndSampling:
    def test_bm25_topk_is_take_ordered(self, spark, cat):
        """BM25's final cut must be per-partition heaps, never a
        global sort exchange; scoring stays JVM-side."""
        plan = plan_of(cat["text_bm25_topk"].fn(spark, SF_SMOKE))
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan
        assert "BatchEvalPython" not in plan

    def test_bm25_indexed_prunes_buckets(self, spark, cat):
        """text_bm25_indexed (r8 verdict next #2): the posting read it
        pins must be partition-pruned to the query terms' buckets (the
        inverted-index property — untouched buckets are never read),
        with the termo IN filter pushed into the pruned scan. Scoring
        runs off that pin with the corpus stats as literals: no join,
        no broadcast, and the final cut a TakeOrderedAndProject; the
        documents corpus never appears."""
        from agrobr_spark.queries.pipeline_text import (
            BM25_QUERY,
            _bm25_index_dir,
        )
        from agrobr_spark.store.posting import query_postings

        read = plan_of(
            query_postings(spark, _bm25_index_dir(spark, SF_SMOKE), BM25_QUERY)
        )
        m = re.search(r"PartitionFilters: \[bucket[^\]]*IN \(([^)]*)\)", read)
        assert m, read
        # 3 query terms → at most 3 buckets listed, never the full 64
        assert len(m.group(1).split(",")) <= 3
        assert re.search(r"PushedFilters: \[In\(termo", read), read
        plan = plan_of(cat["text_bm25_indexed"].fn(spark, SF_SMOKE))
        assert "Join" not in plan and "BroadcastExchange" not in plan, plan
        assert "TakeOrderedAndProject" in plan
        assert "documents" not in plan  # corpus untouched at query time
        assert "BatchEvalPython" not in plan

    def test_pq_ann_broadcasts_codebook_and_lut(self, spark, cat):
        """sim_pq_ann: the codebook, LUT, and query-vector sides all
        reach the corpus as broadcast joins (the corpus is never
        shuffled by value and never range-sorted); the only
        nested-loop is the broadcast query×codebook cross join; no
        Python in the hot path."""
        plan = plan_of(cat["sim_pq_ann"].fn(spark, SF_SMOKE))
        assert plan.count("BroadcastHashJoin") >= 3, plan
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan
        assert "Exchange rangepartitioning" not in plan
        assert "BatchEvalPython" not in plan

    def test_contamination_fuzzy_broadcasts_benchmark(self, spark, cat):
        """text_contamination_fuzzy (r8 verdict next #7): both
        candidate generators ship the tiny benchmark side broadcast —
        bench shingles into a BroadcastHashJoin, bench vectors into a
        broadcast nested-loop sweep — and no plain CartesianProduct or
        corpus-wide range sort exists; windows run per-bid over
        candidates only."""
        plan = plan_of(cat["text_contamination_fuzzy"].fn(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, plan
        assert "BroadcastNestedLoopJoin" in plan, plan  # broadcast qv sweep
        assert "CartesianProduct" not in plan
        assert "Exchange rangepartitioning" not in plan
        assert "BatchEvalPython" not in plan

    def test_rrf_fusion_never_sorts_corpus(self, spark, cat):
        """Both RRF ranker sides reduce via TakeOrderedAndProject
        before fusion; the only window sorts run on the ≤DEPTH-row
        candidate frames, and there is no cartesian pair stage."""
        plan = plan_of(cat["sim_hybrid_rrf"].fn(spark, SF_SMOKE))
        assert plan.count("TakeOrderedAndProject") >= 2, plan
        assert "CartesianProduct" not in plan
        assert "Exchange rangepartitioning" not in plan

    def test_weighted_sample_is_map_side_heap(self, spark, cat):
        """o8: xi is a narrow map over the scan and the k-smallest cut
        is TakeOrderedAndProject — no shuffle of the corpus at all
        before the ≤k-row window."""
        plan = plan_of(cat["o8_weighted_sample"].fn(spark, SF_SMOKE))
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan
        # the only acceptable shuffle is the single-partition exchange
        # feeding the ≤k-row ranking window, never a corpus shuffle
        assert "Exchange hashpartitioning" not in plan, plan

    def test_knn_graph_is_cluster_equi_join(self, spark, cat):
        """sim_knn_graph: the corpus-vs-corpus candidate stage is a
        plain hash/sort-merge EQUI-join on the cluster key — never a
        CartesianProduct and never a broadcast of the query side
        (which IS the corpus); the only nested-loop is the broadcast
        centroid assignment; no Python in the hot path."""
        plan = plan_of(cat["sim_knn_graph"].fn(spark, SF_SMOKE))
        assert re.search(r"(SortMergeJoin|ShuffledHashJoin)", plan), plan
        assert re.search(r"Left keys \[1\]: \[_cid", plan), plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        assert "Exchange rangepartitioning" not in plan

    def test_phrase_match_filters_before_shuffle(self, spark, cat):
        """text_phrase_match: the (phrase, term, offset) table and the
        per-phrase length table both reach the token stream broadcast,
        so only query-term tokens survive to the first aggregation —
        no SortMergeJoin, no cartesian, no Python."""
        plan = plan_of(cat["text_phrase_match"].fn(spark, SF_SMOKE))
        assert plan.count("BroadcastHashJoin") >= 2, plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan

    def test_timeseries_windows_shuffle_once(self, spark, cat):
        """w14/w15: after the daily aggregation, the lag/frame window
        runs on the SAME product-key partitioning — exactly two
        hash exchanges total (series agg + window key), no range
        exchange (no global sort), no cartesian, no Python."""
        for q in ("w14_ewma_smooth", "w15_rolling_zscore"):
            plan = plan_of(cat[q].fn(spark, SF_SMOKE))
            assert plan.count("Exchange hashpartitioning") <= 2, (q, plan)
            assert "Exchange rangepartitioning" not in plan, q
            assert "CartesianProduct" not in plan, q
            assert "BatchEvalPython" not in plan, q

    def test_phrase_indexed_prunes_buckets(self, spark, cat):
        """text_phrase_indexed: the positional posting read is
        partition-pruned to the phrases' distinct terms' buckets with
        the termo IN filter pushed into the pruned scan; the (phrase,
        term, offset) and length tables broadcast; the documents
        corpus never appears at query time."""
        plan = plan_of(cat["text_phrase_indexed"].fn(spark, SF_SMOKE))
        m = re.search(r"PartitionFilters: \[bucket[^\]]*IN \(([^)]*)\)", plan)
        assert m, plan
        # 9 distinct phrase terms → at most 9 buckets, never all 64
        assert len(m.group(1).split(",")) <= 9
        assert re.search(r"PushedFilters: \[In\(termo", plan), plan
        assert plan.count("BroadcastHashJoin") >= 2
        assert "documents" not in plan
        assert "BatchEvalPython" not in plan

    def test_salted_join_spreads_hot_keys(self, spark, cat):
        """j11: the salted join must take the SHUFFLE path (a
        broadcast would hide both the skew and the fix) on the
        composite (key, salt) key, with the dim replicated via
        explode and partial aggregation before the final exchange."""
        plan = plan_of(cat["j11_salted_skew_join"].fn(spark, SF_SMOKE))
        assert "ShuffledHashJoin" in plan, plan
        assert "__salt" in plan
        assert "Generate" in plan and "explode(" in plan
        assert "partial_count" in plan or "HashAggregate" in plan
        assert "BroadcastHashJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_gopher_rules_is_one_scan_no_shuffle(self, spark, cat):
        """text_gopher_rules: all 7 rules fold into one narrow
        projection over the scan — no Exchange, no explode, no
        Python."""
        plan = plan_of(cat["text_gopher_rules"].fn(spark, SF_SMOKE))
        assert "Exchange" not in plan, plan
        assert "Generate" not in plan
        assert "BatchEvalPython" not in plan
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        read_cols = {f.split(":")[0] for s in schemas for f in s.split(",") if f}
        assert read_cols <= {"doc_id", "text"}, read_cols

    def test_token_budget_never_globally_sorts_corpus(self, spark, cat):
        """pipeline_token_budget: the running sum must be the bucketed
        prefix-sum plan — offsets broadcast back, within-bucket
        windows only; no empty-partition global Window over the
        corpus rows (the offsets window runs over the ~1001-row
        aggregated bucket frame, whose plan input is the aggregate,
        not the scan)."""
        plan = plan_of(cat["pipeline_token_budget"].fn(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        assert "BatchEvalPython" not in plan
        # both windows present: the offset window and the in-bucket one
        assert plan.count("Window") >= 2, plan

    def test_quality_classifier_broadcasts_weights(self, spark, cat):
        """text_quality_classifier: the 256-row weight table joins
        broadcast against the token stream; the corpus is never
        sorted or collected."""
        plan = plan_of(cat["text_quality_classifier"].fn(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan
        assert "BatchEvalPython" not in plan


class TestRound9Additions:
    def test_snippets_hits_filtered_before_join(self, spark, cat):
        """text_snippets: only query-term tokens reach the candidate
        self-join (static In filter under the explode), the read
        schema prunes to (doc_id, text), and nothing goes Cartesian
        or Python."""
        plan = plan_of(cat["text_snippets"].fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        assert re.search(r"termo#\d+ IN \(merge,vector,customer\)", plan) or \
            "IN (merge,vector,customer)" in plan, plan
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        read_cols = {f.split(":")[0] for s in schemas for f in s.split(",") if f}
        assert read_cols <= {"doc_id", "text"}, read_cols

    def test_rm3_weighted_terms_are_literals_and_topk_heap(self, spark, cat):
        """text_bm25_rm3: the stage-2 weights, df and corpus stats
        reach the scorer as literals over the pinned tf rows — no join
        at all — and the final cut is a TakeOrderedAndProject heap:
        the corpus is never globally sorted."""
        plan = plan_of(cat["text_bm25_rm3"].fn(spark, SF_SMOKE))
        assert "Join" not in plan, plan
        assert "TakeOrderedAndProject" in plan
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_line_filter_is_one_scan_no_shuffle(self, spark, cat):
        """text_line_filter: the whole rule set folds into one narrow
        projection over the scan — no Exchange, no explode, no
        Python."""
        plan = plan_of(cat["text_line_filter"].fn(spark, SF_SMOKE))
        assert "Exchange" not in plan, plan
        assert "Generate" not in plan
        assert "BatchEvalPython" not in plan
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        read_cols = {f.split(":")[0] for s in schemas for f in s.split(",") if f}
        assert read_cols <= {"doc_id", "text"}, read_cols

    def test_pivot_is_single_aggregate(self, spark, cat):
        """a21_pivot: the pinned-values pivot compiles to ONE
        partial+final hash-aggregate pair over one shuffle — never a
        pass per pivot column."""
        plan = plan_of(cat["a21_pivot"].fn(spark, SF_SMOKE))
        n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        assert n_exchanges == 1, plan
        assert "BatchEvalPython" not in plan
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        read_cols = {f.split(":")[0] for s in schemas for f in s.split(",") if f}
        assert read_cols <= {
            "o_orderpriority", "o_orderstatus", "o_totalprice"
        }, read_cols

    def test_snippets_indexed_prunes_buckets(self, spark, cat):
        """text_snippets_indexed: the positional posting read is
        partition-pruned to the query terms' buckets with the termo
        filter pushed into the pruned scan; the documents table
        appears only in the final token-slice join, never in the hits
        stage."""
        plan = plan_of(cat["text_snippets_indexed"].fn(spark, SF_SMOKE))
        m = re.search(r"PartitionFilters: \[bucket[^\]]*IN \(([^)]*)\)", plan)
        assert m, plan
        assert len(m.group(1).split(",")) <= 3
        assert re.search(r"PushedFilters: \[In\(termo", plan), plan
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_tpch_q3_pushdown_and_heap(self, spark, cat):
        """tpch_q3: segment and both date bounds reach their scans as
        pushed filters; the final cut is a TakeOrderedAndProject heap,
        never a global sort."""
        plan = plan_of(cat["tpch_q3"].fn(spark, SF_SMOKE))
        assert re.search(r"PushedFilters: \[[^\]]*c_mktsegment", plan), plan
        assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan), plan
        assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), plan
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan
        assert "CartesianProduct" not in plan

    def test_tpch_q5_broadcast_chain(self, spark, cat):
        """tpch_q5: the region->nation prune broadcasts into both
        customer and supplier before any fact join; year bounds push
        to the orders scan; six tables, zero Cartesian products."""
        plan = plan_of(cat["tpch_q5"].fn(spark, SF_SMOKE))
        assert plan.count("BroadcastHashJoin") >= 3, plan
        assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan), plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


class TestTpchDecorrelation:
    def test_q17_decorrelates_to_aggregate_join(self, spark, cat):
        """tpch_q17 (r9 verdict next #6): the correlated scalar
        subquery (per-part average quantity) must decorrelate into ONE
        l_partkey-keyed aggregate joined back to the outer side —
        exactly two lineitem scans in the whole plan (outer + the
        decorrelated aggregate) and ZERO subquery nodes; at 100 TB a
        surviving per-row subquery is |outer| rescans of lineitem.
        Both scans stay column-pruned and the part filters push down."""
        plan = plan_of(cat["tpch_q17"].fn(spark, SF_SMOKE))
        assert "Subquery" not in plan, plan
        assert len(re.findall(r"lineitem\.parquet", plan)) == 2, plan
        assert re.search(r"Keys \[1\]: \[l_partkey", plan), plan
        assert "CartesianProduct" not in plan
        assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(p_brand", plan), plan
        # pruned reads: neither scan drags the wide lineitem row along
        assert "l_shipdate" not in plan and "l_returnflag" not in plan

    def test_q20_decorrelates_to_semi_join_chain(self, spark, cat):
        """tpch_q20 (r10 verdict next #6): the nested-IN / correlated-
        scalar chain must decorrelate into LEFT-SEMI joins — the outer
        supplier IN becomes a semi-join on s_suppkey, the part IN a
        semi-join on l_partkey, and the correlated window-volume
        subquery ONE pair-keyed aggregate joined back — with ZERO
        surviving subquery nodes and exactly two lineitem scans
        (all-time pairs + the date-pruned window). At 100 TB a
        surviving per-supplier subquery is |supplier| rescans of the
        fact table. The name prefix pushes as StartsWith to the part
        scan and the date window to the second lineitem scan."""
        plan = plan_of(cat["tpch_q20"].fn(spark, SF_SMOKE))
        assert "Subquery" not in plan, plan
        assert plan.count("LeftSemi") >= 2, plan
        assert len(re.findall(r"lineitem\.parquet", plan)) == 2, plan
        # the decorrelated correlated scalar: pair-keyed aggregate
        assert re.search(r"Keys \[2\]: \[l_partkey", plan), plan
        assert re.search(
            r"PushedFilters: \[[^\]]*StringStartsWith\(p_name", plan
        ), plan
        assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan

    def test_q21_decorrelates_to_semi_anti_pair(self, spark, cat):
        """tpch_q21: the EXISTS must become a LEFT-SEMI self-join on
        l_orderkey carrying the supplier disequality, and the
        NOT EXISTS a LEFT-ANTI carrying BOTH the disequality and the
        late-shipment inequality (which references a SECOND outer
        table, orders) — zero surviving subquery nodes and exactly
        three lineitem scans (outer + semi + anti). At 100 TB a
        surviving correlated NOT EXISTS is |lineitem| rescans of
        lineitem. The 'F' status and the nation IN-list push to their
        scans."""
        plan = plan_of(cat["tpch_q21"].fn(spark, SF_SMOKE))
        assert "Subquery" not in plan, plan
        assert "LeftSemi" in plan, plan
        assert "LeftAnti" in plan, plan
        assert len(re.findall(r"lineitem\.parquet", plan)) == 3, plan
        assert re.search(
            r"PushedFilters: \[[^\]]*EqualTo\(o_orderstatus,F", plan
        ), plan
        assert re.search(r"PushedFilters: \[[^\]]*In\(n_name", plan), plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan

    def test_q22_scalar_once_anti_join(self, spark, cat):
        """tpch_q22: two subquery disciplines in one plan — the
        UNCORRELATED average-balance scalar may survive as a subquery
        node because that is the CORRECT plan (it executes exactly
        once and broadcasts, never per-row: exactly two customer
        scans exist, outer + the one-time average), while the
        correlated NOT EXISTS must decorrelate into a LEFT-ANTI on
        c_custkey whose orders scan carries the pushed recency bound
        — the anti side reads the recent slice, not full history."""
        plan = plan_of(cat["tpch_q22"].fn(spark, SF_SMOKE))
        assert "LeftAnti" in plan, plan
        assert len(re.findall(r"customer\.parquet", plan)) == 2, plan
        assert len(re.findall(r"orders\.parquet", plan)) == 1, plan
        assert re.search(
            r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate",
            plan,
        ), plan
        assert len(re.findall(r"In\(c_mktsegment", plan)) >= 2, plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan

    def test_q18_having_semi_filters_before_join(self, spark, cat):
        """tpch_q18: the uncorrelated-but-aggregated IN must plan as a
        standalone l_orderkey-keyed aggregate feeding a LEFT-SEMI that
        prunes orders BEFORE the customer join — zero subquery nodes;
        a plan that joins first and filters later does ~50x the join
        work at 100 TB."""
        plan = plan_of(cat["tpch_q18"].fn(spark, SF_SMOKE))
        assert "Subquery" not in plan, plan
        assert "LeftSemi" in plan, plan
        assert re.search(r"Keys \[1\]: \[l_orderkey", plan), plan
        assert len(re.findall(r"lineitem\.parquet", plan)) <= 3, plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan

    def test_q2_correlated_min_decorrelates(self, spark, cat):
        """tpch_q2: the correlated MIN-equality subquery must become
        ONE ps_partkey-keyed min-aggregate over the region-pruned
        supply pairs joined back on (partkey, cost) — zero surviving
        subquery nodes, exactly two lineitem scans (outer pairs +
        subquery pairs), part filters pushed, and the region equality
        pushed on BOTH legs' region scans."""
        plan = plan_of(cat["tpch_q2"].fn(spark, SF_SMOKE))
        assert "Subquery" not in plan, plan
        assert len(re.findall(r"lineitem\.parquet", plan)) == 2, plan
        assert re.search(r"Keys \[1\]: \[ps_partkey", plan), plan
        assert re.search(
            r"PushedFilters: \[[^\]]*LessThanOrEqual\(p_size", plan
        ), plan
        assert re.search(
            r"PushedFilters: \[[^\]]*EqualTo\(p_type", plan
        ), plan
        assert len(re.findall(r"EqualTo\(r_name", plan)) == 2, plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
