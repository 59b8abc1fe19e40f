"""Quoting for expressions built as Spark SQL text.

Wide projections and aggregates are built as parsed SQL text, one string
per output column, because every ``Column`` call is a py4j round trip
(``F.col`` 13 commands, ``F.col(c).alias(n)`` 24 in PySpark 4.1) while one
``selectExpr`` of n strings costs about n + 5. Every string or column name
that reaches that text from data or configuration goes through these two
helpers.
"""

from __future__ import annotations


def sql_str(s: str) -> str:
    """Quote a Python string as a Spark SQL string expression.

    A string without backslashes or single quotes is a plain ``'...'``
    literal, which reads the same under every parser setting. Any other
    string becomes ``cast(X'<utf-8 hex>' as string)``: with
    ``spark.sql.parser.escapedStringLiterals=true`` a backslash escape is
    kept verbatim (``'\\\\+33'`` turns into the regex ``\\\\+33``), so no
    escaped form means the same under both settings. The cast of a
    literal is constant-folded, so the optimized plan holds the plain
    string either way.
    """
    if "\\" in s or "'" in s:
        return f"cast(X'{s.encode('utf-8').hex()}' as string)"
    return f"'{s}'"


def sql_ident(name: str) -> str:
    """Backtick-quote a column name (backticks double)."""
    return "`" + name.replace("`", "``") + "`"
