"""Score expressions (SURVEY §2.3, SC1–SC6).

The reference keeps score in a side map post_key→f64
(/root/reference/src/main.rs:1399) that score blocks add into, optionally
max-normalizing the batch first (`add_post_score_to_global_normalized`
main.rs:2626-2657). The feed compiler owns that map and the
normalization (``plans.blocks._ScoreState``); this module holds the per-row
score expressions it and the registry share.

The user-selectable curator weight functions f0…f5 (main.rs:1548-1556) are a
closed family → `weight_fn` dispatch.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from query_engine_spark.operators.sql import sql_column, sql_literal

__all__ = ["hn_score_from_micros", "weight_fn"]


@sql_column
def hn_score_from_micros(like_count: str, age_us: str, gravity: float = 1.8) -> str:
    """Hacker-News decay: like_count / (age_hours + 2)^gravity, with the age
    given in epoch MICROseconds (exact integer arithmetic end-to-end — the
    cross-engine-reproducible form). Arguments are SQL expressions.

    Matches `calculate_score` (main.rs:4338-4347) exactly: the reference
    truncates age to whole minutes (`num_minutes()`, abs) before dividing by
    60 and adding 2 — so we floor(|age| / 60 s) first.
    """
    minutes = f"CAST(floor(abs({age_us}) / 60000000) AS DOUBLE)"
    return f"CAST({like_count} AS DOUBLE) / pow({minutes} / 60.0D + 2.0D, {sql_literal(float(gravity))})"


def weight_fn(name: str, count: Column, score_exponent: float = 1.0) -> Column:
    """Curator like-count weight family f0…f5 (main.rs:1548-1556):

        f0: 1 / count^score_exponent     f3: 10 - ln(count)
        f1: 1 / count                    f4: 1 / sqrt(count)
        f2: 100 - sqrt(count)            f5: 1 / ln(count)
        other: 1

    The caller must apply the reference's `s > 0` guard (main.rs:1558) —
    negative/zero weights are dropped, not added.
    """
    c = count.cast("double")
    fns = {
        "f0": F.lit(1.0) / F.pow(c, F.lit(float(score_exponent))),
        "f1": F.lit(1.0) / c,
        "f2": F.lit(100.0) - F.sqrt(c),
        "f3": F.lit(10.0) - F.log(c),
        "f4": F.lit(1.0) / F.sqrt(c),
        "f5": F.lit(1.0) / F.log(c),
    }
    return fns.get(name, F.lit(1.0))
