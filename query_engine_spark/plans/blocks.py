"""JSON block pipeline → one SQL statement (SURVEY §3, entry point 1).

The reference interprets the block list row-at-a-time over an in-memory Vec
(/root/reference/src/main.rs:1229-2594). Here translation writes the list
as ONE ``WITH … SELECT`` statement, each block adding named relations over
the previous working set, and makes one ``spark.sql`` call on the posts
frame's session (a published snapshot keeps its serving conf). Catalyst
pushes filters into the scan, prunes columns, broadcasts the small joins
and fuses the rest into whole-stage codegen; executing it is the driver's
final `.collect()` of ≤500 rows. Columns and pending order keys are tracked
in Python, so a request costs a handful of py4j round trips. Request
strings reach the text only through `operators.sql.sql_literal`; side
inputs go in as DataFrame arguments. Blocks that exist only as DataFrame
operators (liked inputs, input.did, replace, UDF-tier scripts) run the
statement up to that block, apply the operator, and pass its output back
in as one more relation.

Ordering is LAZY. The reference's working set is an ordered Vec; relations
are unordered. The working set is a list of *segments*, one per appended
block, each carrying its natural order as pinned hidden columns
(``__qe_o{i}``, a free projection, no sort). The ``__ord`` stamp is written
only when a consumer READS cross-segment order:

- `duplicates` / `non_duplicates` filters, `limit.posts_per_user`  → stamp
- a plain `limit` / the implicit final 500  → per-segment top-N + bounded
  stamp (never a full sort)
- a `sort` block  → drops all pending order (it unions the segments' DATA
  and re-sorts with `id` as the tiebreak; see the deviation below)
- `stash`/`pop`  → segments move as-is; nothing materializes

Differences from the reference, by design: `now` is an explicit parameter
(the reference calls Utc::now() per block); `sort.random` takes an optional
seed; remote fetches (feed skeletons, list resolution) are injected as
DataFrames/callables on PipelineContext.

Known deviation (not by design): a `sort` breaks ties by `id`, where the
reference's stable `sort_by` (main.rs:2238-2307) keeps the previous
working-set order. Rows that tie on the sort key but have different ids
come out in a different order: `[firehose, sort created_at asc, sort
reply_count desc]` on the test fixture gives keys `[1..8]` here and
`[1, 6, 5, 4, 3, 8, 7, 2]` in the reference. Keeping the previous order
needs the pending order keys to survive the segment union.

Score state: a (key → score) relation like the reference's
`post_score_global` map (main.rs:1399): per score block the batch map is
per-key overwrite (max), batches SUM per key, all folded in ONE
key-partitioned exchange at first read.

Admission control matches main.rs:1240-1281: ≤32 blocks, ≤10 regex blocks;
the implicit final LIMIT 500 matches main.rs:2510-2512.
"""

from __future__ import annotations

import datetime as _dt
import re
from collections import Counter
from dataclasses import dataclass, field, replace as _dc_replace
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from query_engine_spark.operators import filters as Fi
from query_engine_spark.operators import inputs as In
from query_engine_spark.operators.inputs import NOW_COL
from query_engine_spark.operators import joins as J
from query_engine_spark.operators.scoring import hn_score_from_micros
from query_engine_spark.operators.ordering import ORD, stamp_sql
from query_engine_spark.operators.sorts import top_n_sql
from query_engine_spark.operators.sql import ident, sql_literal
from query_engine_spark.functions.scripting import translate_script_with_tier

from query_engine_spark.errors import PipelineError

__all__ = ["PipelineContext", "translate_pipeline", "compile_pipeline", "PipelineError"]

MAX_BLOCKS = 32  # main.rs:1240-1254
MAX_REGEX_BLOCKS = 10  # main.rs:1256-1281
FINAL_LIMIT = 500  # main.rs:2510-2512

# prefix of a pending segment's hidden order-key columns (__qe_o0, __qe_o1, …)
_ORD_HIDDEN = "__qe_o"
# a relation reference in a statement under construction (_Statement.cte);
# sql_literal never writes NUL, so no request string can forge one
_REF = re.compile("\x00(\\d+)\x00")

# count columns by sort type (main.rs:2265-2282) and by score `from` name
_SORT_COUNTS = {"likes": "like_count", "repost_count": "repost_count", "reply_count": "reply_count"}
_SCORE_COUNTS = {**_SORT_COUNTS, "like_count": "like_count"}
# replace targets → (ref column, prefix length to strip); record refs are
# "post:<id>" — strip the 5-char prefix (main.rs:2431)
_FORWARD_REPLACE = {"parent": ("parent", 0), "root": ("root", 0), "record": ("record", 5)}
_INVERSE_REPLACE = {"direct_replies": ("parent", 0), "all_replies": ("root", 0), "quote_posts": ("record", 5)}
# graph expansions around a DID by listType (fetch_list, main.rs:3046-3140)
_LIST_TYPES = {
    "following": J.following, "followers": J.followers, "mutuals": J.mutuals, "following_following": J.following_following
}


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
    # which tier each where/score script block landed on — "sql" (codegen)
    # or "udf" (sandboxed interpreter, 10-100× slower, with its routing
    # reason), keyed by block id or `where#N`/`score#N`; filled at translate
    # time and shown in api.generate_feed_skeleton's debug payload
    script_tiers: dict[str, dict[str, str]] = field(default_factory=dict)

    def note_script_tier(self, block: dict[str, Any], kind: str, tier: str, reason: str | None) -> None:
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
        if list_type not in _LIST_TYPES:
            raise PipelineError(f"unsupported listType {list_type!r}")
        return _LIST_TYPES[list_type](self.follows, did)

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
            return self.communities.filter(F.col("community") == F.lit(name)).select(F.col("user_key").alias("did")).distinct()
        kind = parts[3] if len(parts) > 3 else ""
        if kind == "topMoots":
            if self.moots is None:
                raise PipelineError("skygraph topMoots list needs a moots table")
            top = self.moots.filter(F.col("src_key") == F.lit(host)).orderBy(F.col("weight").desc(), F.col("dst_key"))
            return top.select(F.col("dst_key").alias("did"))
        raise PipelineError(f"unsupported skygraph uri {uri!r}")


def _seconds(block: dict[str, Any], key: str, default: int) -> int:
    v = block.get(key, default)
    return int(v) if v is not None else default


def _polar(pred: str, keep: bool) -> str:
    """keep → retain(pred); remove → retain(!pred)  (main.rs:1800-1816 shape)."""
    return pred if keep else f"NOT ({pred})"


# ---------------------------------------------------------------------------
# the statement under construction


class _Statement:
    """The ``WITH … SELECT`` being written: its relations in block order
    and the DataFrames passed in (``{name}`` in the text, spark.sql's
    keyword frames)."""

    def __init__(self, posts: DataFrame):
        self.session = posts.sparkSession
        self.frames: dict[str, DataFrame] = {"posts": posts}
        self.ctes: list[str] = []

    def frame(self, df: DataFrame) -> str:
        if df.sparkSession is not self.session:
            # temp views are per session: a side input built on another
            # session of the same context joins this one's statement
            jds = self.session._jvm.org.apache.spark.sql.classic.Dataset
            df = DataFrame(jds.ofRows(self.session._jsparkSession, df._jdf.logicalPlan()), self.session)
        name = f"f{len(self.frames)}"
        self.frames[name] = df
        return "{" + name + "}"

    def cte(self, body: str) -> str:
        """Name a relation; `text` decides how it is written."""
        self.ctes.append(body)
        return f"\x00{len(self.ctes) - 1}\x00"

    def text(self, select: str) -> str:
        """The statement: relations read more than once become CTEs (b0,
        b1, …) and the others are written inline as subqueries, because
        the analyzer resolves one more level of chained CTEs per pass
        (flagship translation, warm: 122 ms with a CTE per relation, 68 ms
        so)."""
        uses = Counter(_REF.findall(" ".join([*self.ctes, select])))
        rendered: list[str] = []

        def ref(m: re.Match) -> str:
            return f"b{m[1]}" if uses[m[1]] > 1 else f"({rendered[int(m[1])]})"

        for body in self.ctes:
            rendered.append(_REF.sub(ref, body))
        ctes = [f"b{i} AS ({r})" for i, r in enumerate(rendered) if uses[str(i)] > 1]
        return (f"WITH {', '.join(ctes)} " if ctes else "") + _REF.sub(ref, select)

    def run(self, select: str) -> DataFrame:
        return self.session.sql(self.text(select), **self.frames)

    def apply(self, rel: str, fn: Callable[[DataFrame], DataFrame]) -> str:
        """Run the statement up to `rel`, apply a DataFrame operator to the
        result and pass its output back in as a relation."""
        return self.frame(fn(self.run(f"SELECT * FROM {rel}")))


# ---------------------------------------------------------------------------
# lazily-ordered working set


@dataclass
class _Segment:
    """One appended block's rows, as a relation of the statement. Pending
    segments (stamped=False) carry the order-key VALUES in hidden
    ``__qe_o{i}`` columns with per-key directions in `asc` — pinned at
    creation so the order survives row transformations (replace) without
    ever sorting. Stamped segments carry ``__ord``."""

    rel: str
    seq: int
    asc: tuple[bool, ...] = ()
    stamped: bool = False
    bounded: bool = False
    # most rows a stamped segment can hold (a limit or a fused sort→limit)
    cap: int | None = None
    # filters not yet applied: consecutive filter blocks share one WHERE,
    # so the statement nests one level per run of filters, not per block
    where: tuple[str, ...] = ()

    def rows(self, select: str = "*") -> str:
        return f"SELECT {select} FROM {self.rel}" + (f" WHERE {' AND '.join(self.where)}" if self.where else "")

    def source(self) -> str:
        """The segment's rows as a relation."""
        return f"({self.rows()})" if self.where else self.rel

    def hidden(self) -> list[str]:
        return [ORD] if self.stamped else [f"{_ORD_HIDDEN}{i}" for i in range(len(self.asc))]

    def order(self) -> str:
        if self.stamped:
            return ORD
        return ", ".join(f"{h} {'ASC' if a else 'DESC'}" for h, a in zip(self.hidden(), self.asc))


class _WorkingSet:
    """The reference's ordered Vec<&PostV1> as a list of lazily-ordered
    segments (module docstring). Every segment holds the posts columns plus
    its hidden order columns. Mutated in place by the translator."""

    def __init__(self, stmt: _Statement, posts: str, columns: list[str]):
        self.stmt = stmt
        self.posts = posts
        self.columns = columns
        self.segments: list[_Segment] = []
        self._data: tuple[tuple[str, ...], str] | None = None

    def segment(self, rel: str, order: list[tuple[str, bool]], seq: int, *, where=None, bounded=False, drop=()):
        """The rows of relation `rel` that pass `where`, with their order
        keys pinned."""
        keys = ", ".join(f"{e} AS {_ORD_HIDDEN}{i}" for i, (e, _) in enumerate(order))
        rest = f" EXCEPT ({', '.join(drop)})" if drop else ""
        rel = self.stmt.cte(f"SELECT *{rest}, {keys} FROM {rel}")
        return _Segment(rel, seq, tuple(a for _, a in order), bounded=bounded, where=(where,) if where else ())

    def map(self, fn: Callable[[str], str]) -> None:
        """Apply an order-preserving per-row transformation (filter, where,
        replace-with-ref) to every segment: `fn` writes the query over it."""
        self.segments = [_Segment(self.stmt.cte(fn(s.source())), s.seq, s.asc, s.stamped, s.bounded) for s in self.segments]

    def filter(self, pred: str) -> None:
        self.segments = [_dc_replace(s, where=(*s.where, f"({pred})")) for s in self.segments]

    def _union(self, segments: list[_Segment], *, stamped: bool = False) -> str:
        cols = ", ".join(ident(c) for c in self.columns)
        if not segments:
            return f"SELECT {cols}{f', CAST(0 AS BIGINT) AS {ORD}' if stamped else ''} FROM {self.posts} LIMIT 0"
        return " UNION ALL ".join(s.rows(cols + (f", {ORD}" if stamped else "")) for s in segments)

    def data(self) -> str:
        """The working set's ROWS, order metadata dropped — for consumers
        that don't read order (score batches, sorts, inverse replace)."""
        key = tuple(self.segments)
        if self._data is None or self._data[0] != key:
            self._data = (key, self.stmt.cte(self._union(self.segments)))
        return self._data[1]

    def stamp(self, s: _Segment) -> _Segment:
        """Materialize ``__ord`` (bounded → single tiny exchange; else a
        range-partitioned sort + checked mono-id stamp)."""
        if s.stamped:
            return s
        rel = self.stmt.cte(stamp_sql(s.source(), s.order(), s.seq, bounded=s.bounded, drop=s.hidden()))
        return _Segment(rel, s.seq, stamped=True, bounded=s.bounded)

    def take(self, s: _Segment, n: int) -> _Segment:
        """Per-segment top-N in this segment's order: TakeOrderedAndProject +
        bounded stamp — never a full sort. Valid because the global first-n
        (by (seq, order)) is a subset of each segment's first-n."""
        if s.stamped and not s.where and s.cap is not None and s.cap <= n:
            return s  # already the first n
        if s.stamped:
            top = f"{s.rows()} ORDER BY {s.order()} LIMIT {n}"
        else:
            top = top_n_sql(s.rows(), s.order(), n, s.seq, drop=s.hidden())
        return _Segment(self.stmt.cte(top), s.seq, stamped=True, bounded=True, cap=n)

    def materialize(self) -> str:
        """Union with ``__ord`` stamped — only for consumers that read
        cross-segment order (dedup-first, per-user top-N)."""
        return self.stmt.cte(self._union([self.stamp(s) for s in self.segments], stamped=True))

    def set_materialized(self, rel: str, seq: int, *, cap: int | None = None) -> None:
        self.segments = [_Segment(rel, seq, stamped=True, bounded=cap is not None, cap=cap)]

    def limited(self, n: int) -> str:
        """First n rows in working-set order: per-segment TakeOrdered(n) +
        bounded stamps, then a global TakeOrdered(n) on __ord. Every step is
        a partial top-N — no full sort at any scale."""
        if len(self.segments) == 1:
            return self.take(self.segments[0], n).rel
        union = self._union([self.take(s, n) for s in self.segments], stamped=True)
        return self.stmt.cte(f"SELECT * FROM ({union}) ORDER BY {ORD} LIMIT {n}")


class _ScoreState:
    """post_score_global as a (key, score) relation. Each block's batch
    map is per-key OVERWRITE (`post_score.insert`, main.rs:2166-2207: the
    per-row score is a pure function of the post, so max == the overwritten
    value); batch maps add per key (main.rs:2626-2657). Batches fold at
    first read: union → repartition(key) → per-(key,batch) max → per-key
    sum, both aggregations partition-local — one Exchange in all."""

    def __init__(self, stmt: _Statement):
        self.stmt = stmt
        self._batches: list[str] = []
        self._resolved: str | None = None

    def add(self, batch: str, block: dict[str, Any]) -> None:
        """batch: a (key, __batch_score) relation, normalized here with the
        reference's default max-normalization
        (add_post_score_to_global_normalized, main.rs:2626-2657)."""
        if block.get("normalize", True):
            # batch max as a broadcast scalar, not an unpartitioned window
            mult = sql_literal(float(block.get("scoreNormalizationMultiplier", "1.0")))
            batch = self.stmt.cte(
                f"SELECT /*+ BROADCAST(m) */ key, CASE WHEN __qe_mx != 0.0D THEN __batch_score / __qe_mx * {mult} "
                f"ELSE 0.0D END AS __batch_score FROM {batch} "
                f"CROSS JOIN (SELECT max(__batch_score) AS __qe_mx FROM {batch}) m"
            )
        self._batches.append(batch)
        self._resolved = None

    @property
    def rel(self) -> str | None:
        if not self._batches:
            return None
        if self._resolved is None:
            if len(self._batches) == 1:
                body = f"SELECT key, max(__batch_score) AS score FROM {self._batches[0]} GROUP BY key"
            else:
                tagged = " UNION ALL ".join(f"SELECT key, __batch_score, {i} AS __b FROM {b}" for i, b in enumerate(self._batches))
                per_batch = (
                    f"SELECT key, __b, max(__batch_score) AS __s FROM "
                    f"(SELECT /*+ REPARTITION(key) */ * FROM ({tagged})) GROUP BY key, __b"
                )
                body = f"SELECT key, sum(__s) AS score FROM ({per_batch}) GROUP BY key"
            self._resolved = self.stmt.cte(body)
        return self._resolved

    def joined(self, rel: str, hide: str = "") -> str:
        """`rel` (minus the `hide` columns) with its global score, 0 when
        unscored."""
        if self.rel is None:
            return f"SELECT w.*{hide}, 0.0D AS score FROM {rel} w"
        return f"SELECT w.*{hide}, coalesce(s.score, 0.0D) AS score FROM {rel} w LEFT JOIN {self.rel} s ON w.key = s.key"


def translate_pipeline(blocks: list[dict[str, Any]], ctx: PipelineContext) -> DataFrame:
    """Compile the block list into one statement and run it on the posts
    frame's session; returns the final working set ordered by __ord and
    truncated to 500, with (id, key, score, __ord) plus all post columns."""
    stmt, final = compile_pipeline(blocks, ctx)
    return stmt.run(final)


def compile_pipeline(blocks: list[dict[str, Any]], ctx: PipelineContext) -> tuple[_Statement, str]:
    """The statement of the block list and its final SELECT: ``stmt.text(final)``
    is the text, in which ``{posts}`` names the posts frame and ``{f1}``,
    ``{f2}`` … the other relations (``stmt.frames``)."""
    if len(blocks) > MAX_BLOCKS:
        raise PipelineError(f"Too many blocks ({len(blocks)} > {MAX_BLOCKS})")
    n_regex = sum(1 for b in blocks if b.get("type") == "regex")
    if n_regex > MAX_REGEX_BLOCKS:
        raise PipelineError(f"Too many regex blocks ({n_regex} > {MAX_REGEX_BLOCKS})")
    # fresh tier log per translation — a reused ctx must not leak the
    # previous query's script-tier entries into this one's debug payload
    ctx.script_tiers.clear()

    stmt = _Statement(ctx.posts)
    columns = list(ctx.posts.columns)
    posts = "{posts}"
    if ctx.now is None and NOW_COL not in columns:
        # every window cutoff / age expression below reads NOW_COL; posts
        # that do not carry it (a lazy window, not a published snapshot)
        # get it as inputs.with_now attaches it: one shuffle stage and one
        # broadcast stage per query
        posts = stmt.cte(In.with_now_sql("{posts}"))
        columns.append(NOW_COL)
    now = In.now_sql(ctx.now)
    now_epoch = f"unix_seconds({NOW_COL})" if ctx.now is None else str(int(ctx.now.timestamp()))
    ws = _WorkingSet(stmt, posts, columns)
    stash: dict[str, list[_Segment]] = {}
    scores = _ScoreState(stmt)
    seq = 1
    prepend_seq = -1

    for i, block in enumerate(blocks):
        b_type = block.get("type")
        if b_type == "input":
            seq, prepend_seq = _input_block(block, ctx, ws, scores, seq, prepend_seq, now)
        elif b_type in ("keep", "remove", "regex"):
            _filter_block(block, ctx, ws, scores, now_epoch, seq)
            seq += 1
        elif b_type == "score":
            _score_block(block, ctx, ws, scores, now_epoch, now)
        elif b_type == "sort":
            # peephole: sort immediately followed by a plain limit fuses into
            # TakeOrderedAndProject (partial per-partition top-N) instead of a
            # global single-partition window — the 100 TB-safe shape
            nxt = blocks[i + 1] if i + 1 < len(blocks) else None
            fuse_n = None
            if nxt and nxt.get("type") == "limit" and nxt.get("limitType") != "posts_per_user":
                fuse_n = int(nxt.get("count", 100))
            _sort_block(block, ctx, ws, scores, seq, now, fuse_n=fuse_n)
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
                # segments are relations, nothing materializes
                stash[key] = list(ws.segments)
                ws.segments = []
            elif action == "pop":
                # pop CLONES the slot (re-poppable) and hard-errors on a
                # missing key (main.rs:2319-2326); popped segments re-seq so
                # they append AFTER the current set, keeping internal order
                if key not in stash:
                    raise PipelineError(f"stash pop failed: no stash with key {key!r} (main.rs:2320-2324)")
                for s in stash[key]:
                    ws.segments.append(_reseq(ws, s, seq))
                    seq += 1
            elif action == "subtract":
                if key not in stash:
                    raise PipelineError(f"stash subtract failed: no stash with key {key!r} (main.rs:2328-2333)")
                slot = stash[key]
                if slot:
                    keys = stmt.cte("SELECT DISTINCT key FROM (" + " UNION ALL ".join(s.rows("key") for s in slot) + ")")
                    ws.map(lambda rel: f"SELECT w.* FROM {rel} w LEFT ANTI JOIN {keys} k ON w.key = k.key")
            else:
                raise PipelineError(f"unknown stash action {action!r}")
        elif b_type == "replace":
            seq = _replace_block(block, ws, seq)
        elif b_type == "remember_posts":
            pass  # feed-lineage recording (main.rs:2385-2395) — a sink concern
        else:
            raise PipelineError(f"unknown block type {b_type!r}")

    hide = f" EXCEPT ({NOW_COL})" if NOW_COL in columns else ""
    return stmt, f"{scores.joined(ws.limited(FINAL_LIMIT), hide)} ORDER BY {ORD}"


def _reseq(ws: _WorkingSet, s: _Segment, seq: int) -> _Segment:
    """Give a stashed segment a fresh block seq. A stamped segment's old
    ``__ord`` becomes the pending order key (re-stamped only if read)."""
    if s.stamped:
        rel = ws.stmt.cte(f"SELECT * EXCEPT ({ORD}), {ORD} AS {_ORD_HIDDEN}0 FROM {s.rel}")
        return _Segment(rel, seq, asc=(True,), bounded=s.bounded, where=s.where)
    return _dc_replace(s, seq=seq)


def _input_block(block, ctx, ws, scores, seq, prepend_seq, now):
    stmt, posts = ws.stmt, ws.posts
    input_type = block.get("inputType", "firehose")
    order = [("id", True)]
    rel, where, bounded = posts, None, False

    def window(key, default):
        return In.window_pred.sql(now, _seconds(block, key, default))

    if input_type == "firehose":
        where = window("firehoseSeconds", 86400)
    elif input_type == "list":
        # lists are small → broadcast semi-join (main.rs:1427-1452)
        members = ctx.resolve_list(block)
        keys = f"(SELECT {ident(members.columns[0])} AS author_key FROM {stmt.frame(members)})"
        rel = f"({Fi.in_list_sql(posts, keys, 'author_key')})"
        where = window("historySeconds", 604800)
    elif input_type == "tags":
        where = f"{In.tags_overlap.sql(list(block.get('tags', [])))} AND {window('historySeconds', 604800)}"
    elif input_type == "labels":
        where = f"{Fi.has_any_label.sql(list(block.get('labels', [])))} AND {window('historySeconds', 604800)}"
    elif input_type == "did":
        rel = stmt.apply(posts, lambda p: In.input_did(
            p, block["did"], collection=block.get("collection", "post"), likes=ctx.likes, reposts=ctx.reposts
        ))
    elif input_type == "feed":
        uri = block.get("feedUri")
        if uri not in ctx.feeds:
            raise PipelineError(f"unknown feedUri {uri!r}")
        # S5: the skeleton's ids joined against the store in feed order;
        # ids missing from the store drop out (main.rs:1704-1737)
        rel = f"(SELECT f.__feed_ord, p.* FROM {stmt.frame(ctx.feeds[uri])} f JOIN {posts} p ON f.id = p.id)"
        ws.segments.append(ws.segment(rel, [("__feed_ord", True)], seq, drop=["__feed_ord"]))
        return seq + 1, prepend_seq
    elif input_type == "post":
        where = f"id = {sql_literal(block.get('postId', block.get('postUri')))}"
        # input.post PREPENDS (main.rs:1780-1791): negative block seq
        ws.segments.insert(0, ws.segment(posts, order, prepend_seq, where=where, bounded=True))
        return seq, prepend_seq - 1
    elif input_type == "archived":
        # S8: cold archive scan, children pushed into the scan BEFORE the
        # ≤1000 cap (main.rs:706-974, 1354-1376) — scan+filter+TakeOrdered
        asc = block.get("oldestFirst", False)
        pred = _archived_children_pred(block.get("children", []))
        direction = "ASC" if asc else "DESC"
        limit = min(int(block.get("limit", 1000)), 1000)
        rel = f"(SELECT * FROM {posts}{f' WHERE {pred}' if pred else ''} ORDER BY ts {direction}, id {direction} LIMIT {limit})"
        order = [("ts", asc), ("id", asc)]
        bounded = True  # capped at 1000 (main.rs:1369-1371)
    elif input_type in ("custom_likedweighted", "custom_likedbylikers"):
        if ctx.likes is None:
            raise PipelineError(f"{input_type} needs likes edges")
        if input_type == "custom_likedweighted":
            members = ctx.resolve_list(block)
            base = int(block.get("baseLikeCount", 0))
            liked = stmt.apply(posts, lambda p: In.input_liked_weighted(ctx.likes, p, members, base_like_count=base))
        else:
            seed = stmt.run(f"SELECT * FROM {ws.data()}")
            liked = stmt.apply(posts, lambda p: In.input_liked_by_likers(
                ctx.likes,
                p,
                seed,
                user_score_function=block.get("userScoreFunction", "f1"),
                score_exponent=float(block.get("scoreExponent", "1.3")),
            ))
        seconds = _seconds(block, "historySeconds", 604800)
        if seconds < 604800:
            liked = stmt.cte(f"SELECT * FROM {liked} WHERE {In.window_pred.sql(now, seconds)}")
        scores.add(stmt.cte(f"SELECT key, __batch_score FROM {liked}"), block)
        # S9/S10 REPLACE the working set, sorted by batch score desc
        # (main.rs:1500-1510, 1592-1599)
        order = [("__batch_score", False), ("key", False)]
        ws.segments = [ws.segment(liked, order, seq, drop=["__batch_score"])]
        return seq + 1, prepend_seq
    else:
        raise PipelineError(f"unknown inputType {input_type!r}")
    ws.segments.append(ws.segment(rel, order, seq, where=where, bounded=bounded))
    return seq + 1, prepend_seq


def _archived_children_pred(children):
    """Nested filters of input.archived (main.rs:784-899), ANDed and pushed
    into the cold scan BEFORE the limit: regex with target key `regexType`
    (same targets as F14), keep/remove like_count with `min` → like_count
    >= min, keep/remove videos → video presence; a tags child is dead code
    in the reference (main.rs:883-888: collected, never applied)."""
    preds = []
    for child in children:
        c_type, subject = child.get("type"), child.get("subject")
        if c_type == "regex":
            preds.append(_regex(child, child.get("regexType", "text")))
        elif c_type not in ("keep", "remove"):
            raise PipelineError(f"unsupported archived child type {c_type!r}")
        elif subject == "like_count" and "min" in child:
            preds.append(Fi.count_cmp.sql("like_count", ">=", int(child["min"])))
        elif subject == "videos":
            preds.append(_polar(Fi.is_video.sql(), c_type == "keep"))
        elif subject != "tags":
            raise PipelineError(f"unsupported archived child subject {subject!r}")
    return " AND ".join(preds)


def _regex(block, target):
    return Fi.regex_match.sql(
        block["value"], target, case_sensitive=block.get("caseSensitive", False), invert=block.get("invert", False)
    )


# item value → the posts a keep/remove item block RETAINS (main.rs:1801-1816;
# `keep item value=post` retains replies, `repost` is a no-op there)
_ITEM_KEEPS = {
    "post": Fi.is_reply.sql(),
    "reply": f"NOT ({Fi.is_reply.sql()})",
    "repost": None,
    "has_labels": f"NOT ({Fi.has_labels.sql()})",
    "has_no_labels": Fi.has_labels.sql(),
}


def _filter_block(block, ctx, ws, scores, now_epoch, seq):
    stmt, subject = ws.stmt, block.get("subject")
    keep = block["type"] == "keep"
    # NOTE: the reference IGNORES keep/remove polarity for item / image_count /
    # count-comparison / language / embed / labels subjects — both spellings
    # remove matching posts (main.rs:1796-1951). Polarity is honored only for
    # list / where / videos.
    if block["type"] == "regex":
        ws.filter(_regex(block, block.get("target", "text")))
    elif subject == "item":
        value = block.get("value") or "reply"  # default "reply" (main.rs:1801-1805)
        if value not in _ITEM_KEEPS:
            raise PipelineError(f"unknown item value {value!r}")
        if _ITEM_KEEPS[value]:
            ws.filter(_ITEM_KEEPS[value])
    elif subject == "image_count":
        # remove-matching (main.rs:1817-1830)
        ws.filter(f"NOT ({Fi.image_count_is.sql(str(block.get('value') or '0'))})")
    elif subject in ("reply_count", "repost_count", "like_count"):
        # default operator "<"; remove-matching: `< v` retains >= v
        # (main.rs:1831-1884); value is required there (unwrap)
        if "value" not in block:
            raise PipelineError(f"{subject} filter requires a value (main.rs:1832)")
        op = block.get("operator") or "<"
        if op not in ("<", ">", "==", "!="):
            raise PipelineError(f"unsupported {subject} operator {op!r}")
        ws.filter(f"NOT ({Fi.count_cmp.sql(subject, op, int(block['value']))})")
    elif subject == "language":
        # key is `language` only, default "en" (main.rs:1885-1902 reads
        # filter["language"]; a `value` key is IGNORED there); default
        # operator "!=": "==" removes posts IN the language, "!=" removes
        # posts NOT in it; other operators: no retain call at all
        op = block.get("operator") or "!="
        if op in ("==", "!="):
            ws.filter(_polar(Fi.language_is.sql(block.get("language") or "en"), op == "!="))
    elif subject == "list":
        # F7: broadcast semi/anti join on the author (main.rs:1903-1915)
        members = stmt.frame(ctx.resolve_list(block))
        ws.map(lambda rel: Fi.in_list_sql(rel, members, "author_key", keep=keep))
    elif subject in ("duplicates", "non_duplicates"):
        # cross-segment order read → materialize the stamp; F8/F9 keep the
        # first occurrence / only the 2nd+ (main.rs:1916-1921)
        cond = "= 1" if subject == "duplicates" else "> 1"
        ws.set_materialized(stmt.cte(Fi.occurrences_sql(ws.materialize(), ["key"], cond)), seq)
    elif subject == "embed":
        # remove-matching (main.rs:1922-1935: keep/remove both retain(!pred))
        kind = {"feed": "feed", "post": "post", "none": "none"}[block.get("value", "none")]
        ws.filter(f"NOT ({Fi.embed_kind.sql(kind)})")
    elif subject == "labels":
        # remove-matching, labels lowercased first (main.rs:1936-1951)
        wanted = [str(x).lower() for x in block.get("labels", [])]
        ws.filter(f"NOT ({Fi.has_any_label.sql(wanted)})")
    elif subject == "where":
        pred, tier, why = translate_script_with_tier(
            block["value"], now_epoch_expr=now_epoch, allow_udf=ctx.allow_udf_scripts, boolean=True
        )
        ctx.note_script_tier(block, "where", tier, why)
        if tier == "sql":
            cond = _polar(pred, keep)
            ws.map(lambda rel: f"SELECT * EXCEPT (score) FROM ({scores.joined(rel)}) WHERE {cond}")
        else:
            def udf_filter(df):
                return Fi.apply_filter(df, pred, keep=keep).drop("score")

            ws.map(lambda rel: f"SELECT * FROM {stmt.apply(stmt.cte(scores.joined(rel)), udf_filter)}")
    elif subject == "videos":
        ws.filter(_polar(Fi.is_video.sql(), keep))
    else:
        raise PipelineError(f"unknown filter subject {subject!r}")


def _score_block(block, ctx, ws, scores, now_epoch, now):
    if block.get("scoreType", "add") != "add":
        raise PipelineError("only scoreType=add exists (main.rs:2151-2162)")
    stmt = ws.stmt
    cur = ws.data()
    if "value" in block:
        expr, tier, why = translate_script_with_tier(
            block["value"], now_epoch_expr=now_epoch, allow_udf=ctx.allow_udf_scripts
        )
        ctx.note_script_tier(block, "score", tier, why)
        if tier == "sql":
            batch = stmt.cte(f"SELECT key, CAST({expr} AS DOUBLE) AS __batch_score FROM ({scores.joined(cur)})")
        else:
            batch = stmt.apply(
                stmt.cte(scores.joined(cur)),
                lambda df: df.select("key", expr.cast("double").alias("__batch_score")),
            )
    else:
        from_ = block.get("from", "likes")
        if from_ in _SCORE_COUNTS:
            score = f"CAST({_SCORE_COUNTS[from_]} AS DOUBLE)"
        elif from_ == "hn":
            score = _hn(block, now)
        elif from_ == "created_at":
            # main.rs:2201-2208: score = epoch millis / 1000 (integer division)
            score = "CAST(floor(unix_millis(ts) / 1000) AS DOUBLE)"
        else:
            raise PipelineError(f"unknown score from {from_!r}")
        batch = stmt.cte(f"SELECT key, {score} AS __batch_score FROM {cur}")
    scores.add(batch, block)


def _hn(block, now):
    return hn_score_from_micros.sql("like_count", f"unix_micros({now}) - unix_micros(ts)", float(block.get("gravity", "1.8")))


def _sort_block(block, ctx, ws, scores, seq, now, fuse_n=None):
    """A sort discards ALL pending (and stamped) order for free — the
    segments' data is unioned unordered and re-sorted, ties broken by `id`
    (module docstring, "Known deviation")."""
    stmt = ws.stmt
    sort_type = block.get("sortType", "created_at")
    direction = "ASC" if block.get("sortDirection", block.get("direction", "desc")) == "asc" else "DESC"

    def finish(rows, keys, extra=()):
        if fuse_n is None:
            body = stamp_sql(f"({rows})", keys, seq, drop=extra)
        else:
            body = top_n_sql(rows, keys, fuse_n, seq, drop=extra)
        ws.set_materialized(stmt.cte(body), seq, cap=fuse_n)

    if sort_type == "score":
        # join global scores (inner: unscored drop — main.rs:2286-2307),
        # dedup by key, sort by score. Keep-FIRST-occurrence dedup needs no
        # order here: same-key rows are identical clones (see docstring), so
        # any per-key representative is the observable result.
        firsts = ", ".join(f"first({c}) AS {c}" for c in map(ident, [*ws.columns, "score"]) if c != "`key`")
        scored = (
            f"SELECT w.*, s.score FROM {ws.data()} w JOIN {scores.rel} s ON w.key = s.key"
            if scores.rel
            else f"SELECT *, 0.0D AS score FROM {ws.data()} LIMIT 0"
        )
        scored = f"SELECT key, {firsts} FROM ({scored}) GROUP BY key"
        # ties keep descending key order (BTreeMap .iter().rev() + stable sort)
        finish(scored, f"score {direction}, key DESC", ["score"])
        return

    cur = ws.data()
    if sort_type == "created_at" or sort_type in _SORT_COUNTS:
        finish(f"SELECT * FROM {cur}", f"{_SORT_COUNTS.get(sort_type, 'ts')} {direction}, id")
    elif sort_type == "hn":
        finish(f"SELECT *, {_hn(block, now)} AS __hn FROM {cur}", f"__hn {direction}, id", ["__hn"])
    elif sort_type == "random":
        rand = f"rand({int(ctx.random_seed)})" if ctx.random_seed is not None else "rand()"
        finish(f"SELECT *, {rand} AS __r FROM {cur}", "__r, id", ["__r"])
    else:
        raise PipelineError(f"unknown sortType {sort_type!r}")


def _limit_block(block, ws, seq):
    if block.get("limitType") == "posts_per_user":
        # group-wise top-N in current order (main.rs:2349-2373): Spark's
        # WindowGroupLimit turns the rank filter into a partial top-N
        n = int(block.get("count", 3 if "count" in block else 5))
        ws.set_materialized(ws.stmt.cte(Fi.occurrences_sql(ws.materialize(), ["author_key"], f"<= {n}")), seq)
    else:
        n = int(block.get("count", 100))
        ws.set_materialized(ws.limited(n), seq, cap=n)


def _replace_block(block, ws, seq):
    stmt = ws.stmt
    target = block.get("with", "parent")
    keep_missing = block.get("keepItemsWithMissingTarget", True)
    posts = stmt.run(f"SELECT * FROM {ws.posts}")
    # forward targets replace each row IN PLACE (main.rs:2402-2440) — the
    # pending order survives because its key VALUES are pinned in hidden
    # columns that pass through the join untouched
    if target in _FORWARD_REPLACE:
        ref, strip = _FORWARD_REPLACE[target]

        def forward(df):
            return J.replace_with_ref(df, posts, ref, keep_missing_ref=keep_missing, strip_prefix=strip)

        ws.map(lambda rel: f"SELECT * FROM {stmt.apply(rel, forward)}")
        return seq
    # inverse targets REBUILD the working set from the store (main.rs:2441-2488,
    # iteration over the id-ordered map) → fresh id order
    if target not in _INVERSE_REPLACE:
        raise PipelineError(f"unknown replace target {target!r}")
    ref, strip = _INVERSE_REPLACE[target]
    new = stmt.apply(ws.data(), lambda cur: J.replace_with_inverse(cur, posts, ref, strip_prefix=strip))
    ws.segments = [ws.segment(new, [("id", True)], seq)]
    return seq + 1
