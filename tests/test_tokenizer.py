"""The one whitespace tokenizer: ``normalize/expressions.tokens`` is
the only Spark whitespace split, ``has_tokens`` the only blank filter,
``store/posting.term_rows`` the only lowered term-row explode, every
oracle tokenizes through ``tokens_sql``, and the engines agree on
whitespace edge cases."""

from __future__ import annotations

import ast
import os
import re

import pytest

from agrobr_spark.normalize.expressions import WS_RUN, tokens_sql
from agrobr_spark.queries import catalog
from tests.conftest import SF_SMOKE
from tests.test_concurrency import PACKAGE, _enclosing_functions

_OWNERS = {
    "whitespace split": ("normalize/expressions.py", "tokens"),
    "blank filter": ("normalize/expressions.py", "has_tokens"),
    "lowered term-row explode": ("store/posting.py", "term_rows"),
}

#: a Spark SQL whitespace split inside a string literal; the DuckDB
#: oracles' ``string_split_regex`` does not match (``\b`` needs a
#: word boundary before ``split``)
_SQL_SPLIT = re.compile(r"\bsplit\s*\(.*'\\{1,2}s\+'", re.S)


def _f_call(node, *names):
    """``F.<name>(...)`` call of one of ``names``."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in names
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def _strings(node):
    """The string constants among a call's arguments."""
    return [
        a.value
        for a in [*node.args, *(k.value for k in node.keywords)]
        if isinstance(a, ast.Constant) and isinstance(a.value, str)
    ]


def _literal_text(node):
    """A string literal's text; f-string fields read as ``{}``."""
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{}"
            for v in node.values
        )
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return None


def _matches(src):
    """(kind, line) of every whitespace split and every lowered
    term-row explode in one module's source. A term-row explode is an
    ``F.lower`` of a column named by the ``.alias`` of an
    ``F.explode``/``F.posexplode`` in the same top-level function."""
    tree = ast.parse(src)
    for node in ast.walk(tree):
        if _f_call(node, "split") and (
            {r"\s+", WS_RUN} & set(_strings(node))
            or any(isinstance(a, ast.Name) and a.id == "WS_RUN" for a in node.args)
        ):
            yield "whitespace split", node.lineno
        if _f_call(node, "length") and node.args and _f_call(node.args[0], "trim"):
            yield "blank filter", node.lineno
        text = _literal_text(node)
        if text is not None and _SQL_SPLIT.search(text):
            yield "whitespace split", node.lineno
    for fn in tree.body:
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        exploded = set()
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "alias"
                and _f_call(node.func.value, "explode", "posexplode")
            ):
                exploded.update(_strings(node))
        for node in ast.walk(fn):
            if _f_call(node, "lower") and set(_strings(node)) & exploded:
                yield "lowered term-row explode", node.lineno


def test_tokenizer_has_one_definition():
    """A Spark whitespace split (``F.split(…, r"\\s+")`` or a SQL
    ``split(…, '\\\\s+')``) outside ``tokens``, a blank filter
    (``F.length(F.trim(…))``) outside ``has_tokens``, or a lowered
    term-row explode outside ``term_rows``, fails with its file:line."""
    offenders, owners_seen = [], set()
    for f in sorted(PACKAGE.rglob("*.py")):
        rel = f.relative_to(PACKAGE).as_posix()
        src = f.read_text(encoding="utf-8")
        owner = _enclosing_functions(src)
        for kind, line in sorted(set(_matches(src))):
            if (rel, owner.get(line)) == _OWNERS[kind]:
                owners_seen.add(kind)
            else:
                offenders.append(f"{kind} at agrobr_spark/{rel}:{line}")
    assert not offenders, "tokenizer copy: " + ", ".join(offenders)
    # the patterns still match their one definition
    assert owners_seen == set(_OWNERS)


_EDGES = [
    "", " ", "\t", "\ttext", "a  b", " a b ", "a\tb", "a\nb", "a\xa0b",
    "\xa0", "a\x0bb", "\x0c", " a\tb \n",
]


@pytest.fixture(scope="module")
def spark_tokens(spark):
    """``{text: tokens(text)}`` for every edge string, one Spark job."""
    from agrobr_spark.normalize.expressions import tokens

    rows = spark.createDataFrame(
        [(s,) for s in _EDGES], "text string"
    ).select("text", tokens("text").alias("t"))
    return {r["text"]: list(r["t"]) for r in rows.collect()}


def test_whitespace_only_text_has_no_tokens(spark_tokens):
    """Whitespace is the spelled-out ASCII class on both ends: tab-only
    text is blank, VT splits, a trailing newline leaves no empty token,
    and NBSP is a token character."""
    assert spark_tokens["\t"] == [] and spark_tokens["\x0c"] == []
    assert spark_tokens[" a\tb \n"] == ["a", "b"]
    assert spark_tokens["a\x0bb"] == ["a", "b"]
    assert spark_tokens["\xa0"] == ["\xa0"]


@pytest.mark.parametrize("text", _EDGES)
def test_tokens_match_the_oracle_tokenizer(spark_tokens, text):
    import duckdb

    want = duckdb.execute(
        f"SELECT {tokens_sql()} FROM (SELECT ?::VARCHAR AS text)", [text]
    ).fetchone()[0]
    assert spark_tokens[text] == list(want)


#: one ``tokens_sql(col)`` spelling, whatever ``col`` is
_TOKENS_SQL = re.compile(
    re.escape(tokens_sql("\0"))
    .replace(re.escape("\0"), "(?P<col>.+?)", 1)
    .replace(re.escape("\0"), "(?P=col)"),
    re.S,
)


def test_every_oracle_tokenizes_through_tokens_sql():
    """Once every ``tokens_sql`` spelling is cut out, no oracle SQL
    splits or blank-tests text any other way: a bare
    ``string_split_regex(trim(text), '\\s+')`` or ``length(trim(text))``
    fails naming the query."""
    offenders = []
    for name, entry in sorted(catalog().items()):
        rest = _TOKENS_SQL.sub("", entry.oracle or "")
        if "string_split_regex" in rest or re.search(r"length\(\s*trim\(", rest):
            offenders.append(name)
    assert not offenders, "oracle tokenizer copy in: " + ", ".join(offenders)


#: text-oracle queries run over a whitespace-edge copy of the smoke
#: documents: token counts, blank-document filters, DF/n_docs, BM25
#: lengths, line-level word counts and empty-token-list signals
_EDGE_QUERIES = [
    "text_token_count",
    "text_quality_score",
    "text_lang_id",
    "text_gopher_rules",
    "text_line_filter",
    "text_bigram_surprise",
    "text_bm25_topk",
    "text_stopword_discovery",
    "pipeline_tfidf_incremental",
    "retrieval_index_freshness",
]


@pytest.fixture(scope="module")
def edge_sf(tmp_path_factory):
    """SF_SMOKE with a trailing LF, a leading TAB, VT for spaces, a
    trailing CRLF, and tab-only, NBSP-only and VT/FF-only documents."""
    import duckdb

    d = tmp_path_factory.mktemp("ws_edges")
    for f in os.listdir(SF_SMOKE):
        if f != "documents.parquet":
            os.symlink(os.path.join(SF_SMOKE, f), d / f)
    duckdb.execute(f"""
        COPY (SELECT doc_id, t AS text, lang, source,
                     CAST(length(t) AS BIGINT) AS n_chars
              FROM (SELECT doc_id, lang, source, CASE
                      WHEN doc_id = 3 THEN chr(9)
                      WHEN doc_id = 4 THEN chr(160)
                      WHEN doc_id = 5 THEN chr(11) || chr(12)
                      WHEN doc_id % 6 = 0 THEN text || chr(10)
                      WHEN doc_id % 6 = 1 THEN chr(9) || text
                      WHEN doc_id % 6 = 2 THEN replace(text, ' ', chr(11))
                      WHEN doc_id % 6 = 3 THEN text || ' ' || chr(13) || chr(10)
                      ELSE text END AS t
                    FROM read_parquet('{SF_SMOKE}/documents.parquet'))
              ORDER BY doc_id)
        TO '{d / "documents.parquet"}' (FORMAT parquet)""")
    return str(d)


@pytest.mark.parametrize("name", _EDGE_QUERIES)
def test_text_oracles_agree_on_whitespace_edges(spark, edge_sf, name):
    from tests.oracle_harness import compare_query, duckdb_con

    entry = catalog()[name]
    con = duckdb_con(edge_sf)
    try:
        r = compare_query(spark, con, name, entry.fn, entry.oracle, edge_sf)
    finally:
        con.close()
    assert r.ok and r.spark_rows > 0, f"{name}: {r.detail}"
