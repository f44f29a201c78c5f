"""SQL fragments shared by the feed compiler and the DataFrame operators.

Each expression an operator contributes to a feed request is written once,
as Spark SQL text: the feed compiler (plans/blocks.py) splices it into its
one statement, and DataFrame callers (the registry, list mode) get the same
text as a Column through ``F.expr`` (`sql_column`), or run a whole query
over a DataFrame (`on_frame`). Every value a fragment embeds goes through
`sql_literal`.
"""

from __future__ import annotations

import functools
import math
import re
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["sql_literal", "ident", "sql_column", "on_frame"]

# strings quoted as written: no quote, backslash, brace or NUL
_PLAIN = re.compile(r"[^'\\{}\x00]*")


def sql_literal(value: Any) -> str:
    """The one quoting helper: a Python scalar as a Spark SQL literal.
    A string holding a quote, a backslash, a brace (spark.sql formats the
    text of a statement with DataFrame arguments) or NUL (the feed
    compiler's relation marker) goes in as its UTF-8 bytes, which mean the
    same under either `spark.sql.parser.escapedStringLiterals` setting and
    fold to a plain literal before planning."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return f"{value!r}D" if math.isfinite(value) else f"CAST('{value}' AS DOUBLE)"
    if isinstance(value, str):
        return f"'{value}'" if _PLAIN.fullmatch(value) else f"decode(X'{value.encode().hex()}', 'UTF-8')"
    raise TypeError(f"no SQL literal for {type(value).__name__}")


def ident(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_column(fragment: Callable[..., str]) -> Callable[..., Column]:
    """Give a fragment builder its Column form: ``fn(...)`` is ``F.expr`` of
    the text and ``fn.sql(...)`` the text itself."""

    @functools.wraps(fragment)
    def column(*args: Any, **kwargs: Any) -> Column:
        return F.expr(fragment(*args, **kwargs))

    column.sql = fragment  # type: ignore[attr-defined]
    return column


def on_frame(df: DataFrame, query: str) -> DataFrame:
    """Run `query`, in which ``{rel}`` names `df`, on df's own session."""
    return df.sparkSession.sql(query, rel=df)
