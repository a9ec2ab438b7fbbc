"""Spark SQL literal text for driver-side values.

The engine builds its hot plans as SQL text (one ``spark.sql`` or
``F.expr`` parse) rather than from Column calls, each of which costs a
py4j round trip.  Every literal that goes into that text is rendered
here, so the escaping rule lives in one place.
"""

from __future__ import annotations

import datetime
import numbers


def sql_literal(v: str | bool | int | float | datetime.date) -> str:
    """Spark SQL literal text for a string, bool, number, date or
    timestamp.  The string escape assumes the default
    ``spark.sql.parser.escapedStringLiterals=false``.  Braces become
    unicode escapes, so the text reads the same through ``F.expr`` and
    through ``spark.sql``'s ``{frame}`` formatter, which would take a
    bare brace for a field.  A naive datetime is read in the driver's
    local time zone, as ``F.lit`` reads it."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return "'" + (v.replace("\\", "\\\\").replace("'", "\\'")
                      .replace("{", "\\u007B").replace("}", "\\u007D")) + "'"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{(v if v.tzinfo else v.astimezone()).isoformat()}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, numbers.Integral):
        return f"{int(v)}L"
    if isinstance(v, numbers.Real):
        return f"{float(v)!r}D"
    raise TypeError(f"no SQL literal for {type(v).__name__} {v!r}")


def sql_map(d: dict[str, int | float]) -> str:
    """A driver-side {str: number} dict as the text of ONE map literal:
    building it from F.lit calls costs a py4j round trip per element —
    seconds for a replayed query log."""
    return "map(" + ", ".join(f"{sql_literal(k)}, {sql_literal(v)}"
                              for k, v in sorted(d.items())) + ")"
