"""Column-expression building blocks for normalization.

All pure Spark expressions (JVM-side, codegen-friendly) — no Python
UDFs in any hot path. Accent folding uses ``translate`` with the
pt-BR accent inventory, which covers every case the reference's NFKD
strip handles for Brazilian Portuguese text
(ref: agrobr/normalize/crops.py accent handling, regions.py:78-105).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# pt-BR accent inventory (both cases) → ASCII
_ACCENTED = "áàâãäéèêëíìîïóòôõöúùûüçÁÀÂÃÄÉÈÊËÍÌÎÏÓÒÔÕÖÚÙÛÜÇ"
_FOLDED = "aaaaaeeeeiiiiooooouuuucAAAAAEEEEIIIIOOOOOUUUUC"


def fold_accents(c: Column) -> Column:
    """NFKD-style accent strip for pt-BR inventories, as a translate."""
    return F.translate(c, _ACCENTED, _FOLDED)


def norm_key(c: Column) -> Column:
    """Canonical join key: accent-fold, lower, trim, collapse spaces.

    This is the fact-side of every dim lookup join (F4/F5/F6) — doing
    it in the expression layer keeps the join an equi-join that Spark
    can broadcast-hash, instead of a per-row Python probe.
    """
    # collapse first, trim second: F.trim strips only ASCII spaces, so
    # a tab-only input must become " " before the trim (found by
    # tests/test_properties.py idempotence property)
    return F.trim(F.regexp_replace(F.lower(fold_accents(c)), r"\s+", " "))


#: Version of :func:`tokens`' semantics. Every persisted posting index
#: records it in its manifest and a reader rejects any other value, so
#: a tokenizer change forces a rebuild instead of mixing token sets.
TOKENIZER_VERSION = 2

#: The tokenizer's whitespace (not NBSP), spelled out: ``\s`` and bare
#: ``trim`` differ between Spark/Java and DuckDB/RE2.
WS_CHARS = " \t\n\x0b\x0c\r"
WS_RUN = r"[ \t\n\x0B\f\r]+"


def tokens(c: Column | str) -> Column:
    """THE whitespace tokenizer: trim :data:`WS_CHARS` then split on
    runs of them; blank text gives ``[]`` (a bare split would give
    ``['']``). Every token array, token count and term row in the
    package is built from it."""
    t = F.trim(c, F.lit(WS_CHARS))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, WS_RUN)
    )


def n_tokens(c: Column | str) -> Column:
    """BIGINT size of :func:`tokens` (0 for blank text)."""
    return F.size(tokens(c)).cast("bigint")


def has_tokens(c: Column | str) -> Column:
    """True when :func:`tokens` is non-empty: the blank-document filter,
    without the split."""
    return F.length(F.trim(c, F.lit(WS_CHARS))) > 0


_WS_SQL = " || ".join(f"chr({ord(ch)})" for ch in WS_CHARS)


def tokens_sql(col: str = "text") -> str:
    """:func:`tokens` of the SQL expression ``col`` in the DuckDB
    oracles' spelling: the same trim set and split class (DuckDB's bare
    ``trim`` also strips NBSP, its ``\\s`` lacks VT). Every oracle token
    array, count (``len(...)``) and blank filter (``len(...) > 0``) is
    built from it."""
    t = f"trim({col}, {_WS_SQL})"
    return (
        f"(CASE WHEN length({t}) = 0 THEN []::VARCHAR[] "
        f"ELSE string_split_regex({t}, '{WS_RUN}') END)"
    )


# The same normalization for the DuckDB oracle side.
NORM_KEY_SQL = (
    "trim(regexp_replace(lower(translate({col}, "
    f"'{_ACCENTED}', '{_FOLDED}'"
    ")), '\\s+', ' ', 'g'))"
)


def parse_ptbr_number(c: Column) -> Column:
    """pt-BR numeric string → decimal(18,4), coerce-to-null.

    ``"1.234,56"`` → 1234.56; comma present ⇒ dots are thousands
    separators (ref: agrobr/cepea/parsers/v1.py:236-255).
    """
    s = F.regexp_replace(c, r"[R$\s]", "")
    s = F.when(
        s.contains(","),
        F.replace(F.replace(s, F.lit("."), F.lit("")), F.lit(","), F.lit(".")),
    ).otherwise(s)
    return F.try_to_number(s, F.lit("999999999999999.9999")).cast("decimal(18,4)")


def safra_label(date_col: Column) -> Column:
    """Harvest-year label ``YYYY/YY`` (season starts July;
    ref: agrobr/normalize/dates.py:11-112)."""
    ano = F.when(F.month(date_col) >= 7, F.year(date_col)).otherwise(
        F.year(date_col) - 1
    )
    return F.concat(
        ano.cast("string"), F.lit("/"), F.lpad(((ano + 1) % 100).cast("string"), 2, "0")
    )
