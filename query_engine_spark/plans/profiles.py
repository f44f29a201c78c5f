"""Profile/list-mode pipeline translator (SURVEY §3, entry point:
``generateListSkeleton`` — /root/reference/src/main.rs:2676-2985).

List mode interprets the same block JSON over a `profiles` working set:
inputs `network` (all profiles) / `list`; `remove` filters over profile
attributes, list membership, and duplicates; `regex` over
name/handle/description (+ | combinations); `limit` (default 100). Sorts and
stash are dead code in the reference (commented out, main.rs:2885-2941) —
rejected here so users don't rely on silently-ignored blocks.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from query_engine_spark.operators.ordering import ORD, stamp_ord
from query_engine_spark.operators import filters as Fi
from query_engine_spark.plans.blocks import PipelineError

__all__ = ["ProfileContext", "translate_profile_pipeline", "PROFILE_REGEX_TARGETS"]

PROFILE_REGEX_TARGETS = {
    "name": ("name",),
    "handle": ("handle",),
    "description": ("description",),
    "name|handle": ("name", "handle"),
    "handle|description": ("handle", "description"),
    "name|description": ("name", "description"),
    "name|handle|description": ("name", "handle", "description"),
}


@dataclass
class ProfileContext:
    spark: SparkSession
    profiles: DataFrame  # PROFILE_SCHEMA (datamodel.py)
    lists: dict[str, DataFrame] = field(default_factory=dict)  # listUri → member ids


def translate_profile_pipeline(blocks: list[dict[str, Any]], ctx: ProfileContext) -> DataFrame:
    cur = ctx.profiles.limit(0).withColumn(ORD, F.lit(0).cast("long"))
    seq = 1
    for block in blocks:
        b_type = block.get("type")
        if b_type == "input":
            input_type = block.get("inputType", "network")
            if input_type == "network":
                new = ctx.profiles  # main.rs:2737-2739
            elif input_type == "list":
                uri = block.get("listUri")
                if uri not in ctx.lists:
                    raise PipelineError(f"unknown listUri {uri!r}")
                members = ctx.lists[uri].select(F.col(ctx.lists[uri].columns[0]).alias("id"))
                new = ctx.profiles.join(F.broadcast(members.distinct()), "id", "left_semi")
            else:
                raise PipelineError(f"unknown profile inputType {input_type!r}")
            cur = cur.unionByName(stamp_ord(new, ["id"], seq), allowMissingColumns=True)
            seq += 1
        elif b_type == "remove":
            subject = block.get("subject")
            if subject == "profile":
                value = block.get("value", "has_avatar")
                col = {"has_avatar": F.col("has_avatar"), "has_no_avatar": ~F.col("has_avatar"),
                       "has_banner": F.col("has_banner"), "has_no_banner": ~F.col("has_banner")}
                if value not in col:
                    raise PipelineError(f"unknown profile value {value!r}")
                cur = cur.filter(~col[value])  # remove matching (main.rs:2760-2768)
            elif subject == "list":
                uri = block.get("listUri")
                if uri not in ctx.lists:
                    raise PipelineError(f"unknown listUri {uri!r}")
                members = ctx.lists[uri].select(F.col(ctx.lists[uri].columns[0]).alias("id"))
                cur = cur.join(F.broadcast(members.distinct()), "id", "left_anti")
            elif subject == "duplicates":
                cur = Fi.keep_first_duplicates(cur, ["id"])  # main.rs:2774-2778
            else:
                raise PipelineError(f"unknown profile remove subject {subject!r}")
        elif b_type == "regex":
            target = block.get("target", "name")
            if target not in PROFILE_REGEX_TARGETS:
                raise PipelineError(f"unknown profile regex target {target!r}")
            cols = {"text": None}
            pred = None
            for name in PROFILE_REGEX_TARGETS[target]:
                this = Fi.regex_match(
                    block["value"],
                    "text",
                    case_sensitive=block.get("caseSensitive", False),
                    columns={"text": name},
                )
                pred = this if pred is None else (pred | this)
            if block.get("invert", False):
                pred = ~pred
            cur = cur.filter(pred)
        elif b_type == "sort" or b_type == "stash":
            raise PipelineError(f"{b_type} blocks are not supported in list mode (dead code in the reference, main.rs:2885-2941)")
        elif b_type == "limit":
            cur = cur.orderBy(F.col(ORD)).limit(int(block.get("count", 100)))
        else:
            raise PipelineError(f"unknown block type {b_type!r}")
    return cur.orderBy(ORD)
