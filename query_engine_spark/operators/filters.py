"""Filter/predicate blocks (SURVEY §2.2, F1–F15).

Every reference filter is ``posts.retain(pred)`` with dual keep/remove
polarity (/root/reference/src/main.rs:1796-2150). Here each builder writes a
pure SQL predicate (``fn.sql(...)``, what the feed compiler splices in) and
returns it as a ``Column`` (``fn(...)``); ``apply_filter`` applies it with the
polarity. Pure predicates stay inside whole-stage codegen and push down to
the parquet scan — the 100 TB behavior we want (the reference instead
re-scans its RAM vector per block).

Null semantics: the reference's fields are non-null (ingest defaults,
main.rs:3477-3530), so predicates here wrap nullable inputs with coalesce
where the reference would have seen a default.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame

from query_engine_spark.operators.ordering import ORD
from query_engine_spark.operators.sql import on_frame, sql_column, sql_literal

__all__ = [
    "apply_filter",
    "is_reply",
    "has_labels",
    "image_count_is",
    "count_cmp",
    "language_is",
    "in_list_sql",
    "in_list",
    "occurrences_sql",
    "keep_occurrences",
    "keep_first_duplicates",
    "keep_non_duplicates",
    "embed_kind",
    "has_any_label",
    "is_video",
    "regex_match",
    "REGEX_TARGETS",
]


def apply_filter(df: DataFrame, pred: Column, *, keep: bool = True) -> DataFrame:
    """keep → retain(pred); remove → retain(!pred)  (main.rs:1800-1816 shape)."""
    return df.filter(pred if keep else ~pred)


# F1 — item kind: reply test is `parent != ""` (main.rs:4324-4326);
# has_labels / has_no_labels (main.rs:1808-1815)
@sql_column
def is_reply(parent: str = "parent") -> str:
    return f"coalesce({parent}, '') != ''"


@sql_column
def has_labels(labels: str = "labels") -> str:
    return f"size(coalesce({labels}, array())) > 0"


# F2 — image_count 0 / 1 / 2+ (main.rs:1817-1830)
@sql_column
def image_count_is(value: str, col: str = "image_count") -> str:
    return f"{col} >= 2" if value == "2+" else f"{col} = {int(value)}"


# F3/F4/F5 — count comparisons < > == != (main.rs:1831-1884)
_OPS = {"<": "<", ">": ">", "==": "=", "!=": "!=", "<=": "<=", ">=": ">="}


@sql_column
def count_cmp(col: str, op: str, value: float) -> str:
    if op not in _OPS:
        raise ValueError(f"unsupported comparison {op!r}")
    return f"{col} {_OPS[op]} {sql_literal(value)}"


# F6 — language membership in the `langs` set, default "en" (main.rs:1885-1902)
@sql_column
def language_is(lang: str = "en", langs: str = "langs") -> str:
    return f"array_contains(coalesce({langs}, array()), {sql_literal(lang)})"


# F7 — list membership = semi/anti join on author (main.rs:1903-1915).
# `broadcast` because lists are small dimension sets; at 100 TB a shuffled
# semi-join of the fact table against a tiny list would be the bottleneck.
def in_list_sql(rel: str, members: str, on: str, *, keep: bool = True) -> str:
    """The rows of relation `rel` whose `on` is (keep) or is not in the `on`
    column of relation `members`."""
    return (
        f"SELECT /*+ BROADCAST(m) */ w.* FROM {rel} w LEFT {'SEMI' if keep else 'ANTI'} JOIN "
        f"(SELECT DISTINCT {on} FROM {members}) m ON w.{on} = m.{on}"
    )


def in_list(df: DataFrame, list_df: DataFrame, on: str, *, keep: bool = True) -> DataFrame:
    return df.sparkSession.sql(in_list_sql("{rel}", "{members}", on, keep=keep), rel=df, members=list_df)


# F8/F9 — order-sensitive dedup: keep first occurrence / keep only 2nd+
# (main.rs:1916-1921). The occurrence rank is a window PARTITIONED by the key
# — no global sort. Pass `order_by` (SQL sort items) when the working-set
# order is expressible from natural columns (skips the global __ord stamp
# entirely, the scalable path); default uses the __ord convention.
def occurrences_sql(rel: str, key_cols: Sequence[str], cond: str, order_by: Sequence[str] = (ORD,)) -> str:
    """The rows of relation `rel` whose occurrence rank within `key_cols`,
    in `order_by`, meets `cond` (``"= 1"``, ``"> 1"``, ``"<= 3"``)."""
    rank = f"row_number() OVER (PARTITION BY {', '.join(key_cols)} ORDER BY {', '.join(order_by)})"
    return f"SELECT * EXCEPT (__occ) FROM (SELECT *, {rank} AS __occ FROM {rel}) WHERE __occ {cond}"


def keep_occurrences(df: DataFrame, key_cols: Sequence[str], cond: str, order_by: Sequence[str] | None = None) -> DataFrame:
    return on_frame(df, occurrences_sql("{rel}", key_cols, cond, order_by or (ORD,)))


def keep_first_duplicates(df: DataFrame, key_cols: Sequence[str], order_by: Sequence[str] | None = None) -> DataFrame:
    return keep_occurrences(df, key_cols, "= 1", order_by)


def keep_non_duplicates(df: DataFrame, key_cols: Sequence[str], order_by: Sequence[str] | None = None) -> DataFrame:
    return keep_occurrences(df, key_cols, "> 1", order_by)


# F10 — embed kind on the `record` ref: none / feed… / post… (main.rs:1922-1935)
@sql_column
def embed_kind(value: str, record: str = "record") -> str:
    if value == "none":
        return f"coalesce({record}, '') = ''"
    return f"startswith(coalesce({record}, ''), {sql_literal(value)})"


# F11 — label anti-membership (main.rs:1936-1951); label keys are
# "self/<val>" or "<labeler_did>/<val>" (main.rs:3261, 3964-3974)
@sql_column
def has_any_label(wanted: Sequence[str], labels: str = "labels") -> str:
    return f"arrays_overlap(coalesce({labels}, array()), array({', '.join(sql_literal(x) for x in wanted)}))"


# F13 — video presence (main.rs:1972-1981)
@sql_column
def is_video(video: str = "video") -> str:
    return f"{video} IS NOT NULL"


# F14 — regex block (main.rs:1982-2150).
# Targets: text, alt_text, link, and their | combinations (main.rs:2093-2140);
# links are concatenated before matching (main.rs:2100). caseSensitive=false
# prepends (?i) (main.rs:2001-2005); the Rust engine rewrites \b to (?-u:\b)
# (main.rs:1983-1987) — Java regex \b is already ASCII-ish there, so we rewrite
# it back.
REGEX_TARGETS = {
    "text": ("text",),
    "alt_text": ("alt_text",),
    "link": ("link",),
    "text|alt_text": ("text", "alt_text"),
    "alt_text|link": ("alt_text", "link"),
    "text|link": ("text", "link"),
    "text|alt_text|link": ("text", "alt_text", "link"),
}


def _java_pattern(pattern: str, case_sensitive: bool) -> str:
    # the Rust engine rewrites BOTH \b and \B to its ASCII boundary (?-u:\b)
    # (main.rs:1983-1987 — yes, \B becomes a word BOUNDARY there); feeds
    # written against the reference depend on that observable behavior, so
    # replicate it, then translate the Rust form back to Java's \b
    pattern = pattern.replace("\\B", "(?-u:\\b)")
    pattern = pattern.replace("(?-u:\\b)", "\\b")
    if not case_sensitive:
        pattern = "(?i)" + pattern
    return pattern


@sql_column
def regex_match(
    pattern: str,
    target: str = "text",
    *,
    case_sensitive: bool = False,
    invert: bool = False,
    columns: dict[str, str] | None = None,
) -> str:
    """OR of rlike over the target columns; `columns` maps logical target
    names (text / alt_text / link) to SQL expressions (link defaults to the
    concatenated `links` array, matching main.rs:2100)."""
    if target not in REGEX_TARGETS:
        raise ValueError(f"unknown regex target {target!r}")
    columns = columns or {}
    pat = sql_literal(_java_pattern(pattern, case_sensitive))
    # links are matched on their no-separator concatenation
    # (`p.links.concat()`, main.rs:2100)
    default = {"link": "array_join(links, '')"}
    pred = " OR ".join(
        f"coalesce({columns.get(n, default.get(n, n))}, '') RLIKE {pat}" for n in REGEX_TARGETS[target]
    )
    return f"NOT ({pred})" if invert else f"({pred})"
