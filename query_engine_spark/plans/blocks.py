"""JSON block-pipeline → DataFrame translator (SURVEY §3, entry point 1).

The reference interprets the block list row-at-a-time over an in-memory Vec
(/root/reference/src/main.rs:1229-2594). Here translation builds ONE lazy
DataFrame expression chain — Catalyst then does what the reference never
could: pushes filters into the scan, prunes columns, reorders/broadcasts the
joins, and fuses everything into whole-stage codegen. Executing the plan is
the driver's final `.collect()` of ≤500 id rows.

Ordering is LAZY (the round-2 → round-3 redesign). The reference's working
set is an ordered Vec; DataFrames are unordered. Instead of eagerly stamping
a global ``__ord`` per input block (round 2's approach — it costs a full
range-partitioned sort per block that the next sort block immediately
discards), the working set is kept as a list of *segments*, one per appended
block, each remembering its natural order as pinned hidden columns
(``__qe_o{i}`` — a free projection, no sort). The ``__ord`` stamp is
materialized only when a consumer actually READS cross-segment order:

- `duplicates` / `non_duplicates` filters, `limit.posts_per_user`  → stamp
- a plain `limit` / the implicit final 500  → per-segment TakeOrdered(n) +
  bounded stamp (never a full sort)
- a `sort` block  → discards all pending order for free (it unions the
  segments' DATA and re-sorts with `id` as the tiebreak; see the sort
  deviation below)
- `stash`/`pop`  → segments move as-is; nothing materializes

Differences from the reference, by design:
- `now` is an explicit parameter (determinism; the reference calls
  Utc::now() per block).
- `sort.random` takes an optional seed.
- remote fetches (feed skeletons, list resolution) are injected as
  DataFrames/callables on PipelineContext — I/O stays at the edges.

Known deviation (not by design): a `sort` breaks ties by `id`, where the
reference's stable `sort_by` (main.rs:2238-2307) keeps the previous
working-set order. Rows that tie on the sort key but have different ids
come out in a different order: `[firehose, sort created_at asc, sort
reply_count desc]` on the test fixture gives keys `[1..8]` here and
`[1, 6, 5, 4, 3, 8, 7, 2]` in the reference. Keeping the previous order
needs the pending order keys to survive the segment union, which changes
the sort plans.

Score state: a (key → score) side table exactly like the reference's
`post_score_global` map (main.rs:1399): per score block the batch map is
per-key overwrite (max), batches SUM per key. Batches are accumulated and
folded in ONE key-partitioned exchange at first read (round 2 chained a
full_outer join per block — N shuffles of the score map).

Admission control matches main.rs:1240-1281: ≤32 blocks, ≤10 regex blocks;
the implicit final LIMIT 500 matches main.rs:2510-2512.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field, replace as _dc_replace
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from query_engine_spark.operators import filters as Fi
from query_engine_spark.operators import inputs as In
from query_engine_spark.operators.inputs import NOW_COL
from query_engine_spark.operators import joins as J
from query_engine_spark.operators import sorts as So
from query_engine_spark.operators.scoring import hn_score_from_micros
from query_engine_spark.operators.ordering import ORD, stamp_ord
from query_engine_spark.functions.scripting import translate_script_with_tier

from query_engine_spark.errors import PipelineError

__all__ = ["PipelineContext", "translate_pipeline", "PipelineError"]

MAX_BLOCKS = 32  # main.rs:1240-1254
MAX_REGEX_BLOCKS = 10  # main.rs:1256-1281
FINAL_LIMIT = 500  # main.rs:2510-2512

# prefix of a pending segment's hidden order-key columns (__qe_o0, __qe_o1, …)
_ORD_HIDDEN = "__qe_o"

# count columns by sort type (main.rs:2265-2282) and by score `from` name
_SORT_COUNTS = {"likes": "like_count", "repost_count": "repost_count", "reply_count": "reply_count"}
_SCORE_COUNTS = {**_SORT_COUNTS, "like_count": "like_count"}
# replace targets → (ref column, prefix length to strip); record refs are
# "post:<id>" — strip the 5-char prefix (main.rs:2431)
_FORWARD_REPLACE = {"parent": ("parent", 0), "root": ("root", 0), "record": ("record", 5)}
_INVERSE_REPLACE = {"direct_replies": ("parent", 0), "all_replies": ("root", 0), "quote_posts": ("record", 5)}


@dataclass
class PipelineContext:
    spark: SparkSession
    posts: DataFrame
    likes: DataFrame | None = None
    reposts: DataFrame | None = None
    follows: DataFrame | None = None
    lists: dict[str, DataFrame] = field(default_factory=dict)  # listUri → member keys
    feeds: dict[str, DataFrame] = field(default_factory=dict)  # feedUri → (id, __feed_ord)
    # skygraph side tables (main.rs:80-97): community membership and
    # precomputed mutual-affinity ("moots") edges
    communities: DataFrame | None = None  # (community, user_key)
    moots: DataFrame | None = None  # (src_key, dst_key, weight)
    # now=None → "in-plan now": every window cutoff / age computation reads
    # the hidden NOW_COL = max(posts.ts) — carried as data by a published
    # PostStore snapshot, else attached in-plan (inputs.with_now); zero
    # driver round-trips. A datetime pins it explicitly (production: the
    # serving layer passes request time), which folds to a literal that
    # parquet min/max skipping can push down.
    now: _dt.datetime | None = field(default_factory=lambda: _dt.datetime.now(_dt.timezone.utc))
    random_seed: int | None = None
    # opt-in for the sandboxed pandas-UDF script tier (scripting.py): scripts
    # beyond the SQL grammar (reassignment, while, return) run interpreted
    allow_udf_scripts: bool = False
    # script-tier observability (r16, verdict r15): which tier each
    # where/score script block landed on — "sql" (codegen fast path) or
    # "udf" (sandboxed interpreter, 10-100× slow path, with its routing
    # reason). Populated at translate time, keyed by block id (or a
    # positional `where#N`/`score#N` when the block has no id); surfaced
    # by api.generate_feed_skeleton in the debug payload so a config
    # that silently lands on the slow tier is visible, not inferred.
    script_tiers: dict[str, dict[str, str]] = field(default_factory=dict)

    def note_script_tier(
        self, block: dict[str, Any], kind: str, tier: str, reason: str | None
    ) -> None:
        key = str(block.get("id") or f"{kind}#{len(self.script_tiers)}")
        entry = {"kind": kind, "tier": tier}
        if reason:
            entry["reason"] = reason
        self.script_tiers[key] = entry

    def resolve_list(self, block: dict[str, Any]) -> DataFrame:
        """fetch_list (main.rs:3046-3140): Bluesky list membership, a graph
        expansion around a DID (following/followers/mutuals/2-hop), or a
        skygraph:// community / topMoots resolution."""
        if "listUri" in block:
            uri = block["listUri"]
            if uri.startswith("skygraph://"):
                return self._resolve_skygraph(uri)
            if uri not in self.lists:
                raise PipelineError(f"unknown listUri {uri!r}")
            return self.lists[uri]
        list_type = block.get("listType", "following")
        did = block.get("did")
        if did is None or self.follows is None:
            raise PipelineError("list block needs listUri, or did + follows edges")
        if list_type == "following":
            return J.following(self.follows, did)
        if list_type == "followers":
            return J.followers(self.follows, did)
        if list_type == "mutuals":
            return J.mutuals(self.follows, did)
        if list_type == "following_following":
            return J.following_following(self.follows, did)
        raise PipelineError(f"unsupported listType {list_type!r}")

    def _resolve_skygraph(self, uri: str) -> DataFrame:
        """skygraph://community/<name> → that community's members
        (main.rs:3059-3071); skygraph://<did>/topMoots → the user's top
        mutual-interaction partners (main.rs:3072-3089). The reference loads
        both from precomputed files; here they are side tables — `moots` may
        be precomputed at ingest (J.top_moots derives it from likes+follows
        edges when it is not)."""
        parts = uri.split("/")
        host = parts[2] if len(parts) > 2 else ""
        if host == "community":
            if self.communities is None:
                raise PipelineError("skygraph community list needs a communities table")
            name = parts[3] if len(parts) > 3 else ""
            return (
                self.communities.filter(F.col("community") == F.lit(name))
                .select(F.col("user_key").alias("did"))
                .distinct()
            )
        kind = parts[3] if len(parts) > 3 else ""
        if kind == "topMoots":
            if self.moots is None:
                raise PipelineError("skygraph topMoots list needs a moots table")
            return (
                self.moots.filter(F.col("src_key") == F.lit(host))
                .orderBy(F.col("weight").desc(), F.col("dst_key"))
                .select(F.col("dst_key").alias("did"))
            )
        raise PipelineError(f"unsupported skygraph uri {uri!r}")


def _seconds(block: dict[str, Any], key: str, default: int) -> int:
    v = block.get(key, default)
    return int(v) if v is not None else default


# ---------------------------------------------------------------------------
# lazily-ordered working set


@dataclass
class _Segment:
    """One appended block's rows. Pending segments (stamped=False) carry the
    order-key VALUES in hidden ``__qe_o{i}`` columns with per-key directions
    in `asc` — pinned at creation so the order survives row transformations
    (replace) without ever sorting. Stamped segments carry ``__ord``."""

    df: DataFrame
    seq: int
    asc: tuple[bool, ...] = ()
    stamped: bool = False
    bounded: bool = False

    def order_cols(self) -> list[Column]:
        if self.stamped:
            return [F.col(ORD)]
        return [
            F.col(f"{_ORD_HIDDEN}{i}").asc() if a else F.col(f"{_ORD_HIDDEN}{i}").desc()
            for i, a in enumerate(self.asc)
        ]

    def stamp(self) -> "_Segment":
        """Materialize ``__ord`` (bounded → single tiny exchange; else a
        range-partitioned sort + checked mono-id stamp)."""
        if self.stamped:
            return self
        df = stamp_ord(self.df, self.order_cols(), self.seq, bounded=self.bounded)
        return _Segment(df=_drop_hidden(df), seq=self.seq, stamped=True, bounded=self.bounded)

    def take(self, n: int) -> "_Segment":
        """Per-segment top-N in this segment's order: TakeOrderedAndProject +
        bounded stamp — never a full sort. Valid because the global first-n
        (by (seq, order)) is a subset of each segment's first-n."""
        if self.stamped:
            return _dc_replace(self, df=self.df.orderBy(F.col(ORD)).limit(n), bounded=True)
        limited = self.df.orderBy(*self.order_cols()).limit(n)
        df = stamp_ord(limited, self.order_cols(), self.seq, bounded=True)
        return _Segment(df=_drop_hidden(df), seq=self.seq, stamped=True, bounded=True)


def _drop_hidden(df: DataFrame) -> DataFrame:
    return df.drop(*[c for c in df.columns if c.startswith(_ORD_HIDDEN)])


def _union(dfs: list[DataFrame]) -> DataFrame:
    """Bag union in list order, columns matched by name (missing → null)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _make_segment(
    df: DataFrame, order: list[tuple[Column, bool]], seq: int, *, bounded: bool = False
) -> _Segment:
    for i, (expr, _a) in enumerate(order):
        df = df.withColumn(f"{_ORD_HIDDEN}{i}", expr)
    return _Segment(df=df, seq=seq, asc=tuple(a for _, a in order), bounded=bounded)


class _WorkingSet:
    """The reference's ordered Vec<&PostV1> as a list of lazily-ordered
    segments (module docstring). Mutated in place by the translator."""

    def __init__(self, proto: DataFrame):
        self.proto = proto
        self.segments: list[_Segment] = []

    def append(self, seg: _Segment) -> None:
        self.segments.append(seg)

    def replace_all(self, seg: _Segment) -> None:
        self.segments = [seg]

    def map(self, fn: Callable[[DataFrame], DataFrame]) -> None:
        """Apply an order-preserving per-row transformation (filter, where,
        replace-with-ref) to every segment."""
        self.segments = [_dc_replace(s, df=fn(s.df)) for s in self.segments]

    def data(self) -> DataFrame:
        """The working set's ROWS, order metadata dropped — for consumers
        that don't read order (score batches, sorts, inverse replace)."""
        if not self.segments:
            return self.proto.limit(0)
        return _union([_drop_hidden(s.df).drop(ORD) for s in self.segments])

    def materialize(self) -> DataFrame:
        """Union with ``__ord`` stamped — only for consumers that read
        cross-segment order (dedup-first, per-user top-N)."""
        if not self.segments:
            return self.proto.limit(0).withColumn(ORD, F.lit(0).cast("long"))
        return _union([s.stamp().df for s in self.segments])

    def set_materialized(self, df: DataFrame, seq: int, *, bounded: bool = False) -> None:
        self.segments = [_Segment(df=df, seq=seq, stamped=True, bounded=bounded)]

    def limited(self, n: int) -> DataFrame:
        """First n rows in working-set order: per-segment TakeOrdered(n) +
        bounded stamps, then a global TakeOrdered(n) on __ord. Every step is
        a partial top-N — no full sort at any scale."""
        if not self.segments:
            return self.proto.limit(0).withColumn(ORD, F.lit(0).cast("long"))
        return _union([s.take(n).df for s in self.segments]).orderBy(F.col(ORD)).limit(n)


class _ScoreState:
    """post_score_global as a (key, score) DataFrame.

    The reference builds each block's batch map with `post_score.insert(key,
    s)` — per-key OVERWRITE (main.rs:2166-2207), so duplicate working-set rows
    contribute once (the per-row score is a pure function of the post, so max
    == the overwritten value) — then adds batch maps per key into the global
    map (main.rs:2626-2657). Batches are accumulated as DataFrames and folded
    at first read: union → repartition(key) → per-(key,batch) max → per-key
    sum. The explicit repartition makes BOTH aggregations partition-local
    (hash(key) clusters (key, batch) too) — one Exchange total, vs round 2's
    chained full_outer join per block.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._batches: list[DataFrame] = []
        self._resolved: DataFrame | None = None

    def add(self, batch: DataFrame) -> None:
        """batch: (key, __batch_score) — already normalized by the caller."""
        self._batches.append(batch)
        self._resolved = None

    @property
    def df(self) -> DataFrame | None:
        if not self._batches:
            return None
        if self._resolved is None:
            if len(self._batches) == 1:
                self._resolved = (
                    self._batches[0]
                    .groupBy("key")
                    .agg(F.max("__batch_score").alias("score"))
                )
            else:
                tagged = _union([b.withColumn("__b", F.lit(i)) for i, b in enumerate(self._batches)])
                self._resolved = (
                    tagged.repartition("key")
                    .groupBy("key", "__b")
                    .agg(F.max("__batch_score").alias("__s"))
                    .groupBy("key")
                    .agg(F.sum("__s").alias("score"))
                )
        return self._resolved

    def join_onto(self, df: DataFrame, *, default: float = 0.0) -> DataFrame:
        scores = self.df
        if scores is None:
            return df.withColumn("score", F.lit(default))
        out = df.join(scores, "key", "left")
        return out.withColumn("score", F.coalesce(F.col("score"), F.lit(default)))

    def inner_scored(self, df: DataFrame) -> DataFrame:
        scores = self.df
        if scores is None:
            return df.limit(0).withColumn("score", F.lit(0.0))
        return df.join(scores, "key", "inner")


def _normalized_batch(batch: DataFrame, block: dict[str, Any]) -> DataFrame:
    """Apply the reference's default max-normalization
    (add_post_score_to_global_normalized, main.rs:2626-2657)."""
    normalize = block.get("normalize", True)
    if not normalize:
        return batch
    mult = float(block.get("scoreNormalizationMultiplier", "1.0"))
    # batch max as a broadcast scalar (agg + crossJoin broadcast), not an
    # unpartitioned window — same pattern as inputs.with_now
    mx_df = batch.agg(F.max("__batch_score").alias("__qe_mx"))
    mx = F.col("__qe_mx")
    return (
        batch.crossJoin(F.broadcast(mx_df))
        .withColumn(
            "__batch_score",
            F.when(mx != 0.0, F.col("__batch_score") / mx * F.lit(mult)).otherwise(F.lit(0.0)),
        )
        .drop("__qe_mx")
    )


def translate_pipeline(blocks: list[dict[str, Any]], ctx: PipelineContext) -> DataFrame:
    """Compose the block list into one DataFrame; returns the final working
    set ordered by __ord and truncated to 500, with (id, key, score, __ord)
    plus all post columns."""
    if len(blocks) > MAX_BLOCKS:
        raise PipelineError(f"Too many blocks ({len(blocks)} > {MAX_BLOCKS})")
    n_regex = sum(1 for b in blocks if b.get("type") == "regex")
    if n_regex > MAX_REGEX_BLOCKS:
        raise PipelineError(f"Too many regex blocks ({n_regex} > {MAX_REGEX_BLOCKS})")
    # fresh tier log per translation — a reused ctx must not leak the
    # previous query's script-tier entries into this one's debug payload
    ctx.script_tiers.clear()

    posts = ctx.posts
    if ctx.now is None:
        # every window cutoff / age expression below reads NOW_COL. Over
        # posts that do not carry it, with_now's max(ts) subtree costs each
        # query one shuffle stage and one broadcast stage (AQE reuses them
        # for the plan's other copies of the subtree): measured warm on 4
        # cores at 100k posts, flagship runs 10 Spark jobs over a parquet
        # window and 8 over a published PostStore snapshot
        posts = In.with_now(posts)
        now_arg: _dt.datetime | Column = F.col(NOW_COL)
        now_epoch_expr = f"unix_seconds({NOW_COL})"
        now_us: Column = F.unix_micros(F.col(NOW_COL))
    else:
        now_arg = ctx.now
        now_epoch_expr = str(int(ctx.now.timestamp()))
        now_us = F.lit(int(round(ctx.now.timestamp() * 1_000_000)))
    ws = _WorkingSet(posts)
    stash: dict[str, list[_Segment]] = {}
    scores = _ScoreState(ctx.spark)
    seq = 1
    prepend_seq = -1

    i = -1
    for block in blocks:
        i += 1
        b_type = block.get("type")
        if b_type == "input":
            seq, prepend_seq = _input_block(block, ctx, ws, posts, scores, seq, prepend_seq, now_arg)
        elif b_type in ("keep", "remove", "regex"):
            _filter_block(block, ctx, ws, scores, now_epoch_expr, seq)
            seq += 1
        elif b_type == "score":
            _score_block(block, ctx, ws, scores, now_epoch_expr, now_us)
        elif b_type == "sort":
            # peephole: sort immediately followed by a plain limit fuses into
            # TakeOrderedAndProject (partial per-partition top-N) instead of a
            # global single-partition window — the 100 TB-safe shape
            nxt = blocks[i + 1] if i + 1 < len(blocks) else None
            fuse_n = None
            if nxt and nxt.get("type") == "limit" and nxt.get("limitType") != "posts_per_user":
                fuse_n = int(nxt.get("count", 100))
            _sort_block(block, ctx, ws, scores, seq, now_us, fuse_n=fuse_n)
            seq += 1
        elif b_type == "limit":
            if block.get("limitType") != "posts_per_user" and i > 0 and blocks[i - 1].get("type") == "sort":
                continue  # consumed by the sort→limit fusion above
            _limit_block(block, ws, seq)
            seq += 1
        elif b_type == "stash":
            action = block.get("action", "stash")
            key = block["key"]
            if action == "stash":
                # move the working set into the slot (main.rs:2316-2318);
                # segments are lazy plans, nothing materializes
                stash[key] = list(ws.segments)
                ws.segments = []
            elif action == "pop":
                # pop CLONES the slot (re-poppable) and hard-errors on a
                # missing key (main.rs:2319-2326); popped segments re-seq so
                # they append AFTER the current set, keeping internal order
                if key not in stash:
                    raise PipelineError(
                        f"stash pop failed: no stash with key {key!r} (main.rs:2320-2324)"
                    )
                for s in stash[key]:
                    ws.append(_reseq(s, seq))
                    seq += 1
            elif action == "subtract":
                if key not in stash:
                    raise PipelineError(
                        f"stash subtract failed: no stash with key {key!r} (main.rs:2328-2333)"
                    )
                slot = stash[key]
                if slot:
                    keys = _union([s.df.select("key") for s in slot]).distinct()
                    ws.map(lambda df: df.join(keys, "key", "left_anti"))
            else:
                raise PipelineError(f"unknown stash action {action!r}")
        elif b_type == "replace":
            seq = _replace_block(block, ws, posts, seq)
        elif b_type == "remember_posts":
            pass  # feed-lineage recording (main.rs:2385-2395) — a sink concern
        else:
            raise PipelineError(f"unknown block type {b_type!r}")

    out = ws.limited(FINAL_LIMIT)
    out = scores.join_onto(out)
    return out.drop(NOW_COL).orderBy(ORD)


def _reseq(s: _Segment, seq: int) -> _Segment:
    """Give a stashed segment a fresh block seq. A stamped segment's old
    ``__ord`` becomes the pending order key (re-stamped only if read)."""
    if s.stamped:
        df = s.df.withColumn(f"{_ORD_HIDDEN}0", F.col(ORD)).drop(ORD)
        return _Segment(df=df, seq=seq, asc=(True,), bounded=s.bounded)
    return _dc_replace(s, seq=seq)


def _input_block(block, ctx, ws, posts, scores, seq, prepend_seq, now_arg):
    input_type = block.get("inputType", "firehose")
    order: list[tuple[Column, bool]] = [(F.col("id"), True)]
    bounded = False
    if input_type == "firehose":
        new = In.input_firehose(posts, now_arg, _seconds(block, "firehoseSeconds", 86400))
    elif input_type == "list":
        new = In.input_list(posts, ctx.resolve_list(block), now_arg, _seconds(block, "historySeconds", 604800))
    elif input_type == "tags":
        new = In.input_tags(posts, list(block.get("tags", [])), now_arg, _seconds(block, "historySeconds", 604800))
    elif input_type == "labels":
        new = In.input_labels(posts, list(block.get("labels", [])), now_arg, _seconds(block, "historySeconds", 604800))
    elif input_type == "did":
        new = In.input_did(
            posts,
            block["did"],
            collection=block.get("collection", "post"),
            likes=ctx.likes,
            reposts=ctx.reposts,
        )
    elif input_type == "feed":
        uri = block.get("feedUri")
        if uri not in ctx.feeds:
            raise PipelineError(f"unknown feedUri {uri!r}")
        new = In.input_feed(posts, ctx.feeds[uri])
        order = [(F.col("__feed_ord"), True)]
        seg = _make_segment(new, order, seq)
        seg = _dc_replace(seg, df=seg.df.drop("__feed_ord"))
        ws.append(seg)
        return seq + 1, prepend_seq
    elif input_type == "post":
        new = In.input_post(posts, block.get("postId", block.get("postUri")))
        # input.post PREPENDS (main.rs:1780-1791): negative block seq
        ws.segments.insert(0, _make_segment(new, order, prepend_seq, bounded=True))
        return seq, prepend_seq - 1
    elif input_type == "archived":
        newest_first = not block.get("oldestFirst", False)
        limit = int(block.get("limit", 1000))
        pred = _archived_children_pred(block.get("children", []))
        new = In.input_archived(posts, pred, limit, newest_first=newest_first)
        asc = not newest_first
        order = [(F.col("ts"), asc), (F.col("id"), asc)]
        bounded = True  # capped at 1000 (main.rs:1369-1371)
    elif input_type in ("custom_likedweighted", "custom_likedbylikers"):
        if ctx.likes is None:
            raise PipelineError(f"{input_type} needs likes edges")
        if input_type == "custom_likedweighted":
            new = In.input_liked_weighted(
                ctx.likes, posts, ctx.resolve_list(block), base_like_count=int(block.get("baseLikeCount", 0))
            )
        else:
            new = In.input_liked_by_likers(
                ctx.likes,
                posts,
                ws.data(),
                user_score_function=block.get("userScoreFunction", "f1"),
                score_exponent=float(block.get("scoreExponent", "1.3")),
            )
        seconds = _seconds(block, "historySeconds", 604800)
        if seconds < 604800:
            new = new.filter(In.window_pred(now_arg, seconds))
        scores.add(_normalized_batch(new.select("key", "__batch_score"), block))
        # S9/S10 REPLACE the working set, sorted by batch score desc
        # (main.rs:1500-1510, 1592-1599)
        seg = _make_segment(new, [(F.col("__batch_score"), False), (F.col("key"), False)], seq)
        ws.replace_all(_dc_replace(seg, df=seg.df.drop("__batch_score")))
        return seq + 1, prepend_seq
    else:
        raise PipelineError(f"unknown inputType {input_type!r}")
    ws.append(_make_segment(new, order, seq, bounded=bounded))
    return seq + 1, prepend_seq


def _archived_children_pred(children):
    """Nested filters of input.archived (main.rs:784-899), ANDed and pushed
    into the cold scan BEFORE the limit:
    - regex with target key `regexType` (same targets as F14)
    - keep/remove like_count with `min` → like_count >= min
    - keep/remove videos → video presence
    - tags child: dead code in the reference (collected, never applied)
    """
    pred = None

    def conj(p):
        nonlocal pred
        pred = p if pred is None else (pred & p)

    for child in children:
        c_type = child.get("type")
        if c_type == "regex":
            conj(
                Fi.regex_match(
                    child["value"],
                    child.get("regexType", "text"),
                    case_sensitive=child.get("caseSensitive", False),
                    invert=child.get("invert", False),
                )
            )
        elif c_type in ("keep", "remove"):
            subject = child.get("subject")
            if subject == "like_count" and "min" in child:
                conj(F.col("like_count") >= int(child["min"]))
            elif subject == "videos":
                conj(Fi.is_video() if c_type == "keep" else ~Fi.is_video())
            elif subject == "tags":
                pass  # dead code in the reference (main.rs:883-888)
            else:
                raise PipelineError(f"unsupported archived child subject {subject!r}")
        else:
            raise PipelineError(f"unsupported archived child type {c_type!r}")
    return pred


def _filter_block(block, ctx, ws, scores, now_epoch_expr, seq):
    b_type = block["type"]
    if b_type == "regex":
        pred = Fi.regex_match(
            block["value"],
            block.get("target", "text"),
            case_sensitive=block.get("caseSensitive", False),
            invert=block.get("invert", False),
        )
        ws.map(lambda df: df.filter(pred))
        return

    keep = b_type == "keep"
    subject = block.get("subject")
    # NOTE: the reference IGNORES keep/remove polarity for item / image_count /
    # count-comparison / language subjects — both spellings remove matching
    # posts (main.rs:1796-1902; e.g. `keep item value=post` RETAINS replies).
    # Polarity is honored only for list / where / videos below.
    if subject == "item":
        value = block.get("value") or "reply"  # default "reply" (main.rs:1801-1805)
        if value == "post":
            ws.map(lambda df: df.filter(Fi.is_reply()))  # remove non-replies (main.rs:1807-1808)
        elif value == "reply":
            ws.map(lambda df: df.filter(~Fi.is_reply()))
        elif value == "repost":
            pass  # no-op in the reference (main.rs:1811)
        elif value == "has_labels":
            ws.map(lambda df: df.filter(~Fi.has_labels()))
        elif value == "has_no_labels":
            ws.map(lambda df: df.filter(Fi.has_labels()))
        else:
            raise PipelineError(f"unknown item value {value!r}")
        return
    if subject == "image_count":
        value = str(block.get("value") or "0")
        # remove-matching in both polarities (main.rs:1817-1830)
        ws.map(lambda df: df.filter(~Fi.image_count_is(value)))
        return
    if subject in ("reply_count", "repost_count", "like_count"):
        # default operator "<"; remove-matching: `< v` retains >= v
        # (main.rs:1831-1884); value is required there (unwrap)
        if "value" not in block:
            raise PipelineError(f"{subject} filter requires a value (main.rs:1832)")
        op = block.get("operator") or "<"
        if op not in ("<", ">", "==", "!="):
            raise PipelineError(f"unsupported {subject} operator {op!r}")
        ws.map(lambda df: df.filter(~Fi.count_cmp(subject, op, int(block["value"]))))
        return
    if subject == "language":
        # key is `language` only, default "en" (main.rs:1885-1902 reads
        # filter["language"]; a `value` key is IGNORED there); default
        # operator "!=": "==" removes posts IN the language, "!=" removes
        # posts NOT in it
        op = block.get("operator") or "!="
        lang = block.get("language") or "en"
        member = Fi.language_is(lang)
        if op == "==":
            ws.map(lambda df: df.filter(~member))
        elif op == "!=":
            ws.map(lambda df: df.filter(member))
        # other operators: no retain call at all (main.rs:1896-1901)
        return
    if subject == "list":
        members = ctx.resolve_list(block)
        ws.map(lambda df: Fi.in_list(df, members, "author_key", keep=keep))
        return
    if subject == "duplicates":
        # cross-segment order read → materialize the stamp
        ws.set_materialized(Fi.keep_first_duplicates(ws.materialize(), ["key"]), seq)
        return
    if subject == "non_duplicates":
        ws.set_materialized(Fi.keep_non_duplicates(ws.materialize(), ["key"]), seq)
        return
    if subject == "embed":
        value = block.get("value", "none")
        # reference REMOVES matching rows in both polarities here
        # (main.rs:1922-1935: keep/remove both call retain(!pred))
        kind = {"feed": "feed", "post": "post", "none": "none"}[value]
        ws.map(lambda df: df.filter(~Fi.embed_kind(kind)))
        return
    if subject == "labels":
        # always REMOVES matching posts regardless of polarity, labels
        # lowercased first (main.rs:1936-1951)
        wanted = [str(x).lower() for x in block.get("labels", [])]
        ws.map(lambda df: df.filter(~Fi.has_any_label(wanted)))
        return
    if subject == "where":
        pred, tier, why = translate_script_with_tier(
            block["value"],
            now_epoch_expr=now_epoch_expr,
            allow_udf=ctx.allow_udf_scripts,
            boolean=True,
        )
        ctx.note_script_tier(block, "where", tier, why)
        ws.map(lambda df: Fi.apply_filter(scores.join_onto(df), pred, keep=keep).drop("score"))
        return
    if subject == "videos":
        ws.map(lambda df: Fi.apply_filter(df, Fi.is_video(), keep=keep))
        return
    raise PipelineError(f"unknown filter subject {subject!r}")


def _score_block(block, ctx, ws, scores, now_epoch_expr, now_us):
    if block.get("scoreType", "add") != "add":
        raise PipelineError("only scoreType=add exists (main.rs:2151-2162)")
    cur = ws.data()
    if "value" in block:
        col, tier, why = translate_script_with_tier(
            block["value"], now_epoch_expr=now_epoch_expr, allow_udf=ctx.allow_udf_scripts
        )
        ctx.note_script_tier(block, "score", tier, why)
        batch = scores.join_onto(cur).withColumn("__batch_score", col.cast("double"))
    else:
        from_ = block.get("from", "likes")
        if from_ in _SCORE_COUNTS:
            batch = cur.withColumn("__batch_score", F.col(_SCORE_COUNTS[from_]).cast("double"))
        elif from_ == "hn":
            gravity = float(block.get("gravity", "1.8"))
            age_us = now_us - F.unix_micros(F.col("ts"))
            batch = cur.withColumn("__batch_score", hn_score_from_micros(F.col("like_count"), age_us, gravity))
        elif from_ == "created_at":
            # main.rs:2201-2208: score = epoch millis / 1000 (integer division)
            batch = cur.withColumn("__batch_score", F.floor(F.unix_millis(F.col("ts")) / 1000).cast("double"))
        else:
            raise PipelineError(f"unknown score from {from_!r}")
    scores.add(_normalized_batch(batch.select("key", "__batch_score"), block))


def _sort_block(block, ctx, ws, scores, seq, now_us, fuse_n=None):
    """A sort discards ALL pending (and stamped) order for free — the
    segments' data is unioned unordered and re-sorted. Tiebreak is `id`.
    Rows sharing an id are clones of the same store row, so among them
    the order does not matter; but rows that tie on the sort key with
    DIFFERENT ids come out by id, where Rust's stable sort keeps their
    previous working-set order — an observable deviation (module
    docstring, "Known deviation")."""
    sort_type = block.get("sortType", "created_at")
    asc = block.get("sortDirection", block.get("direction", "desc")) == "asc"

    def direction(c):
        return F.col(c).asc() if asc else F.col(c).desc()

    def finish(df, keys, drop=None):
        if fuse_n is not None:
            out = So.top_n_with_ord(df, keys, fuse_n, seq)
        else:
            out = stamp_ord(df, keys, seq)
        if drop is not None:
            out = out.drop(drop)
        ws.set_materialized(out, seq, bounded=fuse_n is not None)

    if sort_type == "score":
        # join global scores (inner: unscored drop — main.rs:2286-2307),
        # dedup by key, sort by score. Keep-FIRST-occurrence dedup needs no
        # order here: same-key rows are identical clones (see docstring), so
        # any per-key representative is the observable result.
        scored = scores.inner_scored(ws.data()).dropDuplicates(["key"])
        # ties keep descending key order (BTreeMap .iter().rev() + stable sort)
        finish(scored, [direction("score"), F.col("key").desc()], "score")
        return

    cur = ws.data()
    tie = F.col("id")
    if sort_type == "created_at":
        finish(cur, [direction("ts"), tie])
    elif sort_type == "hn":
        gravity = float(block.get("gravity", "1.8"))
        age_us = now_us - F.unix_micros(F.col("ts"))
        cur = cur.withColumn("__hn", hn_score_from_micros(F.col("like_count"), age_us, gravity))
        finish(cur, [direction("__hn"), tie], "__hn")
    elif sort_type in _SORT_COUNTS:
        finish(cur, [direction(_SORT_COUNTS[sort_type]), tie])
    elif sort_type == "random":
        cur = cur.withColumn("__r", F.rand(ctx.random_seed) if ctx.random_seed is not None else F.rand())
        finish(cur, [F.col("__r"), tie], "__r")
    else:
        raise PipelineError(f"unknown sortType {sort_type!r}")


def _limit_block(block, ws, seq):
    if block.get("limitType") == "posts_per_user":
        n = int(block.get("count", 3 if "count" in block else 5))
        ws.set_materialized(So.posts_per_user(ws.materialize(), n), seq)
    else:
        n = int(block.get("count", 100))
        ws.set_materialized(ws.limited(n), seq, bounded=True)


def _replace_block(block, ws, posts, seq):
    target = block.get("with", "parent")
    keep_missing = block.get("keepItemsWithMissingTarget", True)
    # forward targets replace each row IN PLACE (main.rs:2402-2440) — the
    # pending order survives because its key VALUES are pinned in hidden
    # columns that pass through the join untouched
    if target in _FORWARD_REPLACE:
        ref, strip = _FORWARD_REPLACE[target]
        ws.map(lambda df: J.replace_with_ref(df, posts, ref, keep_missing_ref=keep_missing, strip_prefix=strip))
        return seq
    # inverse targets REBUILD the working set from the store (main.rs:2441-2488,
    # iteration over the id-ordered map) → fresh id order
    if target not in _INVERSE_REPLACE:
        raise PipelineError(f"unknown replace target {target!r}")
    ref, strip = _INVERSE_REPLACE[target]
    new = J.replace_with_inverse(ws.data(), posts, ref, strip_prefix=strip)
    ws.replace_all(_make_segment(new, [(F.col("id"), True)], seq))
    return seq + 1
