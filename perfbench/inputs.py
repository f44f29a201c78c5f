"""Seeded benchmark inputs: the tables, the feed request deck and the ingest cuts.

Everything here is a pure function of its seed (numpy ``default_rng``), so the
same seed gives byte-identical tables and the same request/batch sequences.
The tables use the fixed ``DATA_SEED`` on every run, as the repository's
fixed test sets do; the run seed picks request order and parameters, query
order and ingest cuts.
The tables follow the schemas in FIXTURES.md (``events``, ``documents``)
with the distributions of the synthetic sf0.1 set: events spread over 30
days with ids in time order, five event types, exponential ``value``;
documents drawn from a 30-word vocabulary with a few near duplicates.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
EPOCH = _dt.datetime(2024, 1, 1)
DAYS = 30
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
LANGS = ("en", "en", "fr", "es", "zh", "de")  # en ~40%, like the sf0.1 set
DUP_SHARE = 0.05  # share of documents that near-duplicate an earlier one


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    offsets = np.sort(rng.integers(0, DAYS * 86_400 * 1_000_000, n))
    ts = np.datetime64(EPOCH, "us") + offsets.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(10, n * 15 // 1000), n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            # near duplicate of an earlier document: same words, one swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
            continue
        target = int(rng.integers(44, 578))
        words = np.array(WORDS)[rng.integers(0, len(WORDS), target // 3)]
        texts.append(" ".join(words)[:target].strip())
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def write_tables(sf_dir: str, *, events: int, documents: int = 0) -> None:
    """Write ``<table>.parquet`` files for the loaders in sources.testdata."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng([DATA_SEED, 1])
    pq.write_table(events_table(rng, events), os.path.join(sf_dir, "events.parquet"))
    if documents:
        pq.write_table(documents_table(rng, documents), os.path.join(sf_dir, "documents.parquet"))


# ---------------------------------------------------------------------------
# feed requests

FIREHOSE = {"type": "input", "inputType": "firehose"}


def _week(seconds: int = 7 * 86400) -> dict:
    return {"type": "input", "inputType": "firehose", "firehoseSeconds": seconds}


# The DSL shapes in Zipf popularity order (rank 1 = most popular). Each maps a
# parameter choice to the block list; the menus are small and fixed so most
# requests repeat exactly (the identical-repeat check relies on that), and
# only the two popular shapes have two entries, which keeps the warm-up of
# every distinct request short.
SHAPES: dict[str, tuple[list, object]] = {
    # where + regex + score.hn + sort + limit (registry.pipeline_flagship)
    "flagship": (
        [(50, '"k": 1\\d', 100), (60, '"k": 2\\d', 50)],
        lambda p: [
            _week(),
            {"type": "keep", "subject": "where", "value": f"likeCount >= {p[0]}"},
            {"type": "regex", "value": p[1]},
            {"type": "score", "scoreType": "add", "from": "hn"},
            {"type": "sort", "sortType": "score", "sortDirection": "desc"},
            {"type": "limit", "count": p[2]},
        ],
    ),
    # duplicate input window, score, score sort (registry.o5_sort_score_dedup)
    "o5_score_dedup": (
        ["likes", "repost_count"],
        lambda p: [
            FIREHOSE,
            FIREHOSE,
            {"type": "score", "scoreType": "add", "from": p},
            {"type": "sort", "sortType": "score", "sortDirection": "desc"},
        ],
    ),
    "likes_top": (
        [100],
        lambda p: [_week(), {"type": "sort", "sortType": "likes", "sortDirection": "desc"}, {"type": "limit", "count": p}],
    ),
    # created_at-desc probe: the newest posts, used as the freshness check
    "newest": (
        [100],
        lambda p: [_week(), {"type": "sort", "sortType": "created_at", "sortDirection": "desc"}, {"type": "limit", "count": p}],
    ),
    "posts_per_user": (
        [2],
        lambda p: [
            _week(2 * 86400),
            {"type": "sort", "sortType": "likes", "sortDirection": "desc"},
            {"type": "limit", "limitType": "posts_per_user", "count": p},
            {"type": "limit", "count": 200},
        ],
    ),
    "stash_subtract": (
        [100],
        lambda p: [
            _week(),
            {"type": "keep", "subject": "where", "value": f"likeCount >= {p}"},
            {"type": "stash", "action": "stash", "key": "hot"},
            _week(86400),
            {"type": "stash", "action": "subtract", "key": "hot"},
            {"type": "stash", "action": "pop", "key": "hot"},
            {"type": "limit", "count": 300},
        ],
    ),
    "script_score": (
        ["likeCount * 2 + replyCount"],
        lambda p: [
            _week(3 * 86400),
            {"type": "keep", "subject": "where", "value": "likeCount >= 20 && imageCount != 1"},
            {"type": "score", "scoreType": "add", "value": p, "id": "script"},
            {"type": "sort", "sortType": "score", "sortDirection": "desc"},
            {"type": "limit", "count": 100},
        ],
    ),
    "reply_count_sort": (
        ["reply_count"],
        lambda p: [_week(2 * 86400), {"type": "sort", "sortType": p, "sortDirection": "desc"}, {"type": "limit", "count": 100}],
    ),
}

# Zipf(s=1) popularity over the shapes as fixed per-deck quotas: every deck
# has exactly this mix of requests, so runs differ only in order.
DECK_QUOTAS = {"flagship": 4, "o5_score_dedup": 2, "likes_top": 1, "newest": 1, "posts_per_user": 1,
               "stash_subtract": 1, "script_score": 1, "reply_count_sort": 1}
# A deck is dealt as two hands of six: each holds half of every even quota
# (flagship ×2, o5 ×1) and three of the six single-quota shapes, so any run
# of whole hands, and nearly any prefix of one, has the same mix. A shape
# with two parameters gives each hand one of them (seeded which): every
# deck holds both equally, and a hand's two flagship requests are an
# identical repeat.
HANDS = 2
HAND = sum(DECK_QUOTAS.values()) // HANDS

# the registry queries whose DuckDB oracles pin the canonical flagship / o5 shapes
CANONICAL = {"pipeline_flagship": ("flagship", 0), "o5_sort_score_dedup": ("o5_score_dedup", 0)}


def request(shape: str, param_index: int) -> dict:
    params, build = SHAPES[shape]
    return {"shape": shape, "key": f"{shape}#{param_index}", "blocks": build(params[param_index])}


def feed_deck(seed: int) -> list[dict]:
    """One deck: the quota mix as ``HANDS`` hands, with a seeded split of the
    single-quota shapes, seeded order within each hand, and parameters
    dealt one per hand from a seeded start."""
    rng = np.random.default_rng([seed, 2])
    head = [name for name, q in DECK_QUOTAS.items() if q > 1 for _ in range(q // HANDS)]
    singles = [name for name, q in DECK_QUOTAS.items() if q == 1]
    split = rng.permutation(len(singles))
    first = {name: int(rng.integers(0, len(params))) for name, (params, _) in SHAPES.items()}
    per_hand = len(singles) // HANDS
    out = []
    for h in range(HANDS):
        names = head + [singles[int(i)] for i in split[h * per_hand:(h + 1) * per_hand]]
        for i in rng.permutation(len(names)):
            shape = names[int(i)]
            out.append(request(shape, (first[shape] + h) % len(SHAPES[shape][0])))
    return out


def feed_requests(seed: int, decks: int) -> list[dict]:
    return [r for d in range(decks) for r in feed_deck(seed * 1000 + d)]


# ---------------------------------------------------------------------------
# ingest batches

BATCH = 10_000  # new rows per ingest batch, on average
OVERLAP = 1_000  # rows each batch re-reads from the previous one
JITTER = 1_000  # largest seeded change of a batch's size


def ingest_cuts(seed: int, start: int, n: int) -> list[tuple[int, int]]:
    """Overlapping [lo, hi) id ranges covering [start, n): each batch re-reads
    the last ``OVERLAP`` ids of the previous one, like the reference's paging
    with a 1000-row overlap. Sizes vary by a seeded ``JITTER`` in
    complementary pairs (BATCH + d, BATCH - d), so every two batches add the
    same number of new rows."""
    rng = np.random.default_rng([seed, 3])
    cuts, lo, d = [], start, 0
    while lo < n:
        d = int(rng.integers(-JITTER, JITTER + 1)) if len(cuts) % 2 == 0 else -d
        hi = min(n, lo + BATCH + d)
        cuts.append((max(0, lo - OVERLAP) if cuts else lo, hi))
        lo = hi
    return cuts
