"""The one whitespace tokenizer: ``normalize/expressions.tokens`` is
the only Spark whitespace split, ``store/posting.term_rows`` the only
lowered term-row explode, and the Spark tokenizer agrees with the
DuckDB oracles' ``_TOKS_DUCK`` spelling on whitespace edge cases."""

from __future__ import annotations

import ast
import re

import pytest

from tests.test_concurrency import PACKAGE, _enclosing_functions

_OWNERS = {
    "whitespace split": ("normalize/expressions.py", "tokens"),
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
        if _f_call(node, "split") and r"\s+" in _strings(node):
            yield "whitespace split", node.lineno
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
    ``split(…, '\\\\s+')``) outside ``tokens``, or a lowered term-row
    explode outside ``term_rows``, fails with its file:line."""
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


_EDGES = ["", " ", "\t", "\ttext", "a  b", " a b ", "a\tb", "a\nb", "a\xa0b"]


@pytest.fixture(scope="module")
def spark_tokens(spark):
    """``{text: tokens(text)}`` for every edge string, one Spark job."""
    from agrobr_spark.normalize.expressions import tokens

    rows = spark.createDataFrame(
        [(s,) for s in _EDGES + ["\xa0"]], "text string"
    ).select("text", tokens("text").alias("t"))
    return {r["text"]: list(r["t"]) for r in rows.collect()}


@pytest.mark.parametrize(
    "text",
    _EDGES
    + [
        pytest.param(
            "\xa0",
            marks=pytest.mark.xfail(
                strict=True,
                reason="NBSP-only text: DuckDB's trim strips U+00A0 and "
                "gives [], Spark's trims only ASCII space and gives "
                "['\\xa0']",
            ),
        )
    ],
)
def test_tokens_match_the_oracle_tokenizer(spark_tokens, text):
    import duckdb

    from agrobr_spark.queries.training_prep import _TOKS_DUCK

    want = duckdb.execute(
        f"SELECT {_TOKS_DUCK} FROM (SELECT ?::VARCHAR AS text)", [text]
    ).fetchone()[0]
    assert spark_tokens[text] == list(want)
