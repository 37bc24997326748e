"""Scan and indexed retrieval twins share one core.

Each retrieval surface ships as a scan twin (rows tokenized from
``documents``) and an indexed twin (rows read from the posting index)
that call the same scorer, phrase vote, snippet window and RM3
weights. The default oracle smoke subset runs none of these pairs, so
the equality is checked here directly, plus guards that keep the
BM25 idf term, the Spark dot product and the centroid ranking in their
one definition."""

from __future__ import annotations

import ast
import re

import pytest

from tests.conftest import SF_SMOKE
from tests.test_concurrency import PACKAGE, _enclosing_functions

_TWINS = [
    ("text_bm25_topk", "text_bm25_indexed"),
    ("text_bm25_rm3", "text_bm25_rm3_indexed"),
    ("text_phrase_match", "text_phrase_indexed"),
    ("text_snippets", "text_snippets_indexed"),
]


@pytest.mark.parametrize("scan,indexed", _TWINS)
def test_scan_and_indexed_twins_return_the_same_rows(spark, scan, indexed):
    from agrobr_spark.queries import catalog

    cat = catalog()
    a = cat[scan].fn(spark, SF_SMOKE).localCheckpoint(eager=True)
    b = cat[indexed].fn(spark, SF_SMOKE).localCheckpoint(eager=True)
    assert a.columns == b.columns
    assert a.count() > 0, f"{scan}: empty result weakens the check"
    assert a.exceptAll(b).count() == 0, (scan, a.exceptAll(b).collect())
    assert b.exceptAll(a).count() == 0, (indexed, b.exceptAll(a).collect())


#: the BM25 idf term ``(n - df + 0.5)``; allowed only in bm25_score
_IDF = re.compile(r"-\s*F\.col\(\s*[\"']df[\"']\s*\)\s*\+\s*0\.5")
#: a Spark dot definition ``aggregate(zip_with(a, b, (x, y) -> ...``;
#: allowed only in operators/allpairs.py
_DOT = re.compile(r"aggregate\(\s*zip_with\(\s*[^(),]+,\s*[^(),]+,\s*\(")


def test_bm25_idf_and_spark_dot_have_one_definition():
    """The BM25 score lives in store/posting.bm25_score and the Spark
    dot product in operators/allpairs.py; a copy elsewhere fails with
    its file:line. The idf pattern must match exactly once inside
    bm25_score, so a respelling there cannot leave it matching
    nothing."""
    offenders, idf_owned = [], 0
    for f in sorted(PACKAGE.rglob("*.py")):
        rel = f.relative_to(PACKAGE).as_posix()
        src = f.read_text(encoding="utf-8")
        owner = _enclosing_functions(src)
        for pattern, allowed in (
            (_IDF, lambda fn: (rel, fn) == ("store/posting.py", "bm25_score")),
            (_DOT, lambda fn: rel == "operators/allpairs.py"),
        ):
            for m in pattern.finditer(src):
                line = src.count("\n", 0, m.start()) + 1
                if not allowed(owner.get(line)):
                    offenders.append(f"agrobr_spark/{rel}:{line}")
                elif pattern is _IDF:
                    idf_owned += 1
    assert not offenders, (
        "BM25 idf term outside store/posting.bm25_score or Spark dot "
        "definition outside operators/allpairs.py: " + ", ".join(offenders)
    )
    assert idf_owned == 1, (
        f"the idf pattern matches {idf_owned} times inside "
        "store/posting.bm25_score, not once: update _IDF to its spelling"
    )


#: a crossJoin, a ranking window and a centroid table in one function
#: is a centroid ranking; allowed only in allpairs.assign_to_centroids
_CROSS_JOIN = re.compile(r"\.\s*crossJoin\s*\(")
_WINDOW = re.compile(r"\bWindow\s*\.\s*partitionBy\b|\brow_number\s*\(")
_CENTROID = re.compile(r"\b(_cv|_cid|cent|centroid_id)\b")


def test_centroid_ranking_has_one_definition():
    """Every centroid assignment goes through
    operators/allpairs.assign_to_centroids (the shuffle-free one); a
    crossJoin + window ranking of a centroid table anywhere else fails
    with its file:line."""
    offenders = []
    for f in sorted(PACKAGE.rglob("*.py")):
        rel = f.relative_to(PACKAGE).as_posix()
        src = f.read_text(encoding="utf-8")
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.FunctionDef) or (
                (rel, node.name) == ("operators/allpairs.py", "assign_to_centroids")
            ):
                continue
            body = ast.get_source_segment(src, node)
            cross = _CROSS_JOIN.search(body)
            if cross and _WINDOW.search(body) and _CENTROID.search(body):
                line = node.lineno + body.count("\n", 0, cross.start())
                offenders.append(f"agrobr_spark/{rel}:{line}")
    assert not offenders, (
        "centroid ranking outside operators/allpairs.assign_to_centroids: "
        + ", ".join(sorted(set(offenders)))
    )
