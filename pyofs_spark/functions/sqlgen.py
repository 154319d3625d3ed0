"""SQL-generation helpers shared by the expression builders.

CRITICAL PARITY RULE: bare decimal literals (`1000.0`) parse as DECIMAL in
both Spark SQL and DuckDB, with *different* precision/promotion rules —
silently breaking float parity between engine and oracle. Scientific
notation (`1000.0e0`) parses as DOUBLE in both. Every float literal emitted
into generated SQL must go through `flit`.
"""

from __future__ import annotations


def flit(x: float) -> str:
    """Render a float as a DOUBLE literal valid in Spark SQL and DuckDB."""
    r = repr(float(x))
    if "e" in r or "E" in r or "inf" in r or "nan" in r:
        return r
    return r + "e0"


def slit(s: str) -> str:
    """Render a string as a single-quoted Spark SQL literal (quotes doubled,
    backslashes escaped, since Spark reads backslash escapes in literals)."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "''") + "'"


def ident(name: str) -> str:
    """Render a column name as a backticked Spark SQL identifier, so any
    character (quote, dash, space, dot) stays part of the name."""
    return "`" + str(name).replace("`", "``") + "`"
