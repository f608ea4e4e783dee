"""Quoting for Spark SQL expression strings — the one place a column
name or a string value is written into an ``F.expr`` / ``selectExpr``
string.

The engine builds its hot expressions as single-parse SQL strings (one
py4j round-trip per expression instead of one per Catalyst node), so
every caller interpolates names and literals; these two functions make
that interpolation safe for any name ``F.col`` accepts and any string.
DuckDB oracle SQL is a different dialect and does not use them.
"""

from __future__ import annotations


def sql_str(s: str) -> str:
    """A Spark SQL string literal for ``s``, for the default
    ``spark.sql.parser.escapedStringLiterals=false`` parser, which
    unescapes backslash sequences: backslash and quote are escaped."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _name_parts(name: str) -> list[str]:
    """``name`` split the way ``F.col(name)`` splits it (Catalyst's
    ``UnresolvedAttribute.parseAttributeName``): dots separate nested
    fields, a backtick-quoted part is literal, and inside it a doubled
    backtick stands for one backtick."""
    parts: list[str] = []
    cur: list[str] = []
    quoted = False
    i = 0
    while i < len(name):
        ch = name[i]
        if quoted:
            if ch != "`":
                cur.append(ch)
            elif name[i + 1:i + 2] == "`":
                cur.append("`")
                i += 1
            elif i + 1 < len(name) and name[i + 1] != ".":
                raise ValueError(f"malformed column name {name!r}")
            else:
                quoted = False
        elif ch == "`":
            if cur:
                raise ValueError(f"malformed column name {name!r}")
            quoted = True
        elif ch == ".":
            if i == 0 or name[i - 1] == "." or i == len(name) - 1:
                raise ValueError(f"malformed column name {name!r}")
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if quoted:
        raise ValueError(f"malformed column name {name!r}")
    parts.append("".join(cur))
    return parts


def sql_ref(name: str) -> str:
    """A SQL column reference resolving to the same attribute as
    ``F.col(name)``, every part re-emitted backtick-quoted — so names
    with spaces, operator characters, reserved words or backticks
    parse as one reference, never as a different expression."""
    return ".".join(
        "`" + p.replace("`", "``") + "`" for p in _name_parts(name)
    )
