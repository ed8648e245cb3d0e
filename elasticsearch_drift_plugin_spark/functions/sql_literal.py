"""Spark SQL string literals for text built as SQL strings."""

from __future__ import annotations

import re


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string expression that reads back as ``s`` under
    both settings of ``spark.sql.parser.escapedStringLiterals``.

    A quoted ``'`` or ``\\`` has no spelling both parser modes read the same
    way, so each is spliced in as ``chr(39)`` / ``chr(92)``; the quoted
    pieces around them contain neither."""
    parts = [
        f"chr({ord(p)})" if p in ("'", "\\") else f"'{p}'"
        for p in re.split(r"(['\\])", s)
        if p
    ]
    if not parts:
        return "''"
    return parts[0] if len(parts) == 1 else f"concat({', '.join(parts)})"
