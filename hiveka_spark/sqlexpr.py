"""The one text format of the parsed Spark SQL expressions the operators
build.

Hot builders compose a whole output column as one SQL string and hand it
to ``F.expr``/``selectExpr``: one py4j call, parsed JVM-side, instead of
one driver round trip per Column node.  Every name and literal they
splice goes through this module, so the parsed expression resolves
exactly as the Column API form would:

- **Names** are backtick-quoted with embedded backticks doubled
  (:func:`qident`): a column named ``doc id``, ``a`b`` or a reserved word
  resolves to that column, as ``F.col`` resolves it.
- **String literals** escape backslashes, then single quotes
  (:func:`str_lit`): ``spark.sql.parser.escapedStringLiterals`` is false
  by default, so ``\\`` is an escape character in SQL text.
- **Bigint literals** carry the ``L`` suffix (:func:`bigint_array_lit`),
  so an array literal parses as ``array<bigint>`` and never as an
  ``array<int>`` that a later cast or arithmetic would have to widen.

This is the Spark dialect only.  The DuckDB oracle SQL has other literal
rules (no backslash escapes) and builds its own text.
"""

from __future__ import annotations

from collections.abc import Iterable


def qident(name: str) -> str:
    """Backtick-quoted column NAME for interpolation into SQL text."""
    return "`" + name.replace("`", "``") + "`"


def str_lit(s: str) -> str:
    """SQL string literal of ``s``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def in_list(var: str, words: list[str]) -> str:
    """SQL ``var IN ('w1', 'w2', ...)`` membership test; an empty word
    list is the always-false predicate (``x IN ()`` does not parse)."""
    if not words:
        return "false"
    return f"{var} IN ({', '.join(str_lit(w) for w in words)})"


def str_array_lit(words: Iterable[str]) -> str:
    """SQL ``array('w1', ...)`` literal."""
    return "array(" + ", ".join(str_lit(w) for w in words) + ")"


def bigint_array_lit(values: Iterable[int]) -> str:
    """SQL ``array(1L, -2L, ...)`` literal of signed 64-bit ints."""
    return "array(" + ",".join(f"{int(v)}L" for v in values) + ")"
