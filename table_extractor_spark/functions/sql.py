"""Python values spliced into Spark SQL expression text.

The chain's plans (``plans/triples``, ``plans/explorer``) are written as SQL
expression strings and handed to ``selectExpr``/``F.expr`` in a few steps:
one parse per expression instead of a py4j call per ``Column`` node.  Any
Python value that goes into that text goes through ``sql_string``, so no
URI, prefix or pattern can end the literal early or lose a backslash.
"""

from __future__ import annotations


def sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal that parses back to exactly
    ``value``: backslash first, then the single quote, backslash-escaped.

    Spark unescapes backslash sequences in literals (``'\\d'`` would read
    as ``d``), so a regex or a Windows path must be doubled; every other
    character, newlines and non-ASCII text included, may stand as it is.
    Assumes the default ``spark.sql.parser.escapedStringLiterals=false``."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
