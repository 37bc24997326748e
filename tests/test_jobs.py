"""Warm Spark jobs per catalog query, pinned.

Jobs per query are exact run after run (they do not move with host
load), so a pinned count catches a plan change that adds or removes a
job. The count is read from the scheduler's job-id counter around a
full ``noop`` write (``tools/jobs_census.py``), warm = the last of its
runs. A count that moves either way fails until the pin moves with
it, so this table stays the record."""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from tools.jobs_census import census

#: warm jobs at sf0.001
WARM_JOBS = {
    "dedup_survivors": 6,
    "dedup_components": 5,
    "dedup_semdedup": 5,
    "near_dup_embeddings": 3,
    "pipeline_keep_set": 12,
    "text_bm25_indexed": 3,
    "text_bm25_topk": 4,
    "text_bm25_rm3_indexed": 10,
    "retrieval_index_freshness": 2,
    "text_tfidf_topk": 8,
    "pipeline_tfidf_incremental": 10,
    "text_quality_score": 1,
}


def test_warm_jobs_match_their_pins(spark):
    got = {q: warm for q, (_, warm) in census(spark, SF_SMOKE, list(WARM_JOBS)).items()}
    moved = {q: (WARM_JOBS[q], n) for q, n in got.items() if n != WARM_JOBS[q]}
    assert not moved, f"warm jobs moved (pinned, counted): {moved}"
