"""The two workloads. Each one writes its inputs (harness work, before the
session starts), prepares the program (the session's data, server or store),
warms up, checks the warm-up's outputs, runs a timed window and checks its
outputs; ``run.py`` turns the returned ops into metrics and times the
program's part of set-up (``prepare`` and ``warm``) as ``setup_s``.

- ``batch_suite``: one sequential client over a pinned set of headline
  registry queries in whole seeded passes; an op is ``spec.fn`` + noop
  write + ``clear_tracked_cache``.
- ``feed_serve_ingest``: cycles of one ``PostStore.ingest`` of an
  overlapping batch, after which the ``api.FeedServer``'s post window is
  swapped for a fresh ``store.serving_view``, then one deck of requests
  served over HTTP by 2 closed-loop clients.

Batch passes and ingest cycles stop at the unit boundary nearest to
``seconds`` (``another_unit``), so each window holds whole units of one mix.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import importlib.util
import json
import os
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.metrics import check_feed

FEED_EVENTS = 100_000
FEED_PATH = "/xrpc/me.skyfeed.builder.generateFeedSkeleton"

# A pinned subset of bench.py's HEADLINE queries, small enough that set-up,
# several passes and the oracle check fit one run, covering every layer a
# batch query loads: the block DSL and scripts (flagship), group-wise top-N
# (o7), event windows and joins (sessionize, funnel, as-of join), and the
# text kernels with tracked persists (quality features, MinHash LSH over
# documents). A warm pass takes ~4 s on 4 cores.
BATCH_QUERIES = (
    "pipeline_flagship",
    "o7_posts_per_user",
    "sessionize_events",
    "funnel_events",
    "asof_join_events",
    "text_quality",
    "dedup_minhash_lsh",
)
BATCH_SIZES = {"events": 20_000, "documents": 1_000}


@dataclass
class Op:
    kind: str
    key: str
    start: float
    end: float
    failure: str | None = None


@dataclass
class Window:
    ops: list[Op] = field(default_factory=list)
    start: float = 0.0
    end: float = 0.0
    units: list[tuple[float, float]] = field(default_factory=list)  # (start, end) of each pass or cycle
    rows_ingested: int = 0
    ingest_s: float = 0.0
    bytes_written: int = 0

    def rate(self, kinds: set[str]) -> float:
        """Ops of ``kinds`` per second of the window's whole units (0 when no
        unit completed: its ingest failed)."""
        busy = sum(b - a for a, b in self.units)
        return sum(o.kind in kinds and any(a <= o.start < b for a, b in self.units) for o in self.ops) / busy if busy else 0.0


class Workload:
    """Shared plumbing: the table directory, the seed, the session (set by
    ``prepare``) and a tracer slot (None while untraced)."""

    name = ""
    op_kinds: set[str] = set()
    http = False
    clients = 1

    def __init__(self, root: str, sf_dir: str, seed: int):
        self.spark = None
        self.root = root
        self.sf_dir = sf_dir
        self.seed = seed
        self.tracer = None
        self.problems: list[str] = []

    def write_inputs(self) -> None:
        """Generate the tables: harness work that needs no session."""

    def prepare(self, spark) -> None:
        self.spark = spark

    def check_warm(self) -> None:
        """Untimed checks of the warm-up's outputs; failures go to ``problems``."""

    def op_span(self, kind: str):
        return self.tracer.op(kind) if self.tracer else contextlib.nullcontext()

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else contextlib.nullcontext()

    def duck(self, sf_dir: str, where: dict[str, str] | None = None) -> duckdb.DuckDBPyConnection:
        """A DuckDB connection with a view per table file (rows filtered by
        ``where``), for the registry's oracle SQL. Close it after use."""
        con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                t = f[: -len(".parquet")]
                cond = (where or {}).get(t, "true")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}') WHERE {cond}")
        return con

    def oracle_ids(self, con, query: str) -> list[str]:
        from query_engine_spark import registry

        return [str(r[1]) for r in con.execute(f"SELECT ord, id FROM ({registry.REGISTRY[query].oracle}) ORDER BY ord").fetchall()]

    def warm_feeds(self, serve) -> None:
        """Serve every distinct request once from ``clients`` threads
        (``serve`` takes the block list, returns the body)."""
        with ThreadPoolExecutor(self.clients) as pool:
            self.warm_bodies = list(pool.map(lambda w: serve(w[1]["blocks"]), warm_requests()))

    def check_feeds(self, con: duckdb.DuckDBPyConnection, refs: dict | None) -> None:
        """An oracle-pinned warm-up request must have returned its oracle's
        ordered ids, any other a non-empty feed."""
        with con:
            for (query, r), body in zip(warm_requests(), self.warm_bodies):
                ids, failure = check_feed(body, r["key"], refs)
                if failure is None and query and ids != self.oracle_ids(con, query):
                    failure = f"differs from the {query} oracle ({len(ids)} ids)"
                elif failure is None and not ids:
                    failure = "empty feed"
                if failure:
                    self.problems.append(f"warm-up {r['key']}: {failure}")

    def after(self) -> None:
        """Untimed output checks after the window; failures go to ``problems``."""

    def close(self) -> None:
        pass


def closed_loop(requests: list[dict], clients: int, call) -> Window:
    """Run ``call(request)`` from ``clients`` threads, each sending its next
    request when the previous one returns, until the requests run out."""
    win = Window(start=time.perf_counter())
    lock = threading.Lock()
    state = {"next": 0}

    def client():
        while True:
            with lock:
                i = state["next"]
                if i >= len(requests):
                    return
                state["next"] = i + 1
            op = call(requests[i])
            with lock:
                win.ops.append(op)

    threads = [threading.Thread(target=client, name=f"client-{c}") for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    win.end = max((o.end for o in win.ops), default=time.perf_counter())
    return win


def another_unit(start: float, done: int, seconds: float) -> bool:
    """Whether to run one more unit (batch pass, ingest cycle): stop at the
    unit boundary nearest to ``seconds``, so a window of whole units lasts
    about ``seconds`` and every unit has the same mix."""
    elapsed = time.perf_counter() - start
    return done == 0 or elapsed + elapsed / done / 2 < seconds


def warm_requests() -> list[tuple[str | None, dict]]:
    """Every distinct request (shape × parameter), each with the registry
    query whose DuckDB oracle pins it (None for the ones no oracle pins).
    Spark compiles literals into its generated code, so a request first seen
    inside the window would pay code generation there."""
    pinned = {(shape, i): query for query, (shape, i) in inputs.CANONICAL.items()}
    return [(pinned.get((s, i)), inputs.request(s, i)) for s, (params, _) in inputs.SHAPES.items()
            for i in range(len(params))]


def _timed(kind: str, key: str, fn) -> Op:
    t0 = time.perf_counter()
    try:
        failure = fn()
    except Exception as e:  # an op that raises is a failed op, the run goes on
        failure = f"{type(e).__name__}: {str(e)[:300]}"
    return Op(kind, key, t0, time.perf_counter(), failure)


# ---------------------------------------------------------------------------


class BatchSuite(Workload):
    name = "batch_suite"
    op_kinds = {"query"}

    def write_inputs(self) -> None:
        inputs.write_tables(self.sf_dir, **BATCH_SIZES)

    def prepare(self, spark) -> None:
        from query_engine_spark.sources.testdata import load_table

        super().prepare(spark)
        for table in BATCH_SIZES:
            load_table(spark, self.sf_dir, table)

    def call(self, name: str) -> Op:
        from query_engine_spark import cache, registry

        spec = registry.REGISTRY[name]

        def run():
            with self.op_span("query"):
                with self.span("registry.construct", "registry"):
                    df = spec.fn(self.spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                cache.clear_tracked_cache()
        return _timed("query", name, run)

    def warm(self) -> None:
        for name in BATCH_QUERIES:
            op = self.call(name)
            if op.failure:
                self.problems.append(f"warm-up {name}: {op.failure}")

    def run(self, seconds: float, clients: int | None = None) -> Window:
        win = Window(start=time.perf_counter())
        rng = np.random.default_rng([self.seed, 5])
        while another_unit(win.start, len(win.units), seconds):
            t0 = time.perf_counter()
            for i in rng.permutation(len(BATCH_QUERIES)):
                win.ops.append(self.call(BATCH_QUERIES[int(i)]))
            win.units.append((t0, time.perf_counter()))
        win.end = time.perf_counter()
        return win

    def after(self) -> None:
        """Untimed oracle check (tools/selfcheck.compare) of one seeded pick
        of the queries; across seeds every query gets checked."""
        from query_engine_spark import cache, registry

        spec = importlib.util.spec_from_file_location("perfbench_selfcheck", os.path.join(self.root, "tools", "selfcheck.py"))
        selfcheck = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(selfcheck)
        name = BATCH_QUERIES[int(np.random.default_rng([self.seed, 6]).integers(len(BATCH_QUERIES)))]
        q = registry.REGISTRY[name]
        got = q.fn(self.spark, self.sf_dir).toPandas()
        cache.clear_tracked_cache()
        with self.duck(self.sf_dir) as con:
            problems = selfcheck.compare(got, con.execute(q.oracle).df()) if q.oracle else []
        if problems:
            self.problems.append(f"{name} differs from its oracle: {'; '.join(problems[:3])}")


class FeedServeIngest(Workload):
    """Serving beside ingest, as the reference server runs: ``FeedServer``
    answers over HTTP from an in-memory post window that each ingest
    refreshes. Each cycle commits one batch to the ``PostStore``, swaps the
    server context's posts for a fresh ``store.serving_view``, then serves
    one deck of requests, so every cycle has the same mix of ingest and
    reads. Reads never overlap a commit, as under the reference server's
    lock around its post window (a dynamic partition overwrite deletes files
    a reader of the old view may still scan)."""

    name = "feed_serve_ingest"
    op_kinds = {"feed"}
    http = True
    clients = 2
    INITIAL = 20_000  # ids already in the store when serving starts

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.server = None
        self.ctx = None
        self.refs: dict[str, list[str]] = {}

    def write_inputs(self) -> None:
        inputs.write_tables(self.sf_dir, events=FEED_EVENTS)
        # post timestamps by id, to know the newest committed post
        self.ts = pq.read_table(os.path.join(self.sf_dir, "events.parquet"), columns=["ts"]).column(0).to_numpy()
        self.cuts = inputs.ingest_cuts(self.seed, self.INITIAL, FEED_EVENTS)

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from query_engine_spark.api import FeedServer
        from query_engine_spark.plans.blocks import PipelineContext
        from query_engine_spark.sources.testdata import posts_view
        from query_engine_spark.streaming.job import PostStore

        super().prepare(spark)
        self.posts = posts_view(spark, self.sf_dir)
        self.store = PostStore(spark, os.path.join(self.sf_dir, "store"))
        self.store.ingest(self.posts.filter(F.col("id") < self.INITIAL))
        self.ctx = PipelineContext(spark=spark, posts=self.posts, now=None)
        self._commit(self.INITIAL)
        self.server = FeedServer(self.ctx).start()
        self.url = self.server.address + FEED_PATH

    def _commit(self, hi: int) -> None:
        """Publish ids below ``hi``: the server's window becomes a fresh view
        of the store, and repeats compare against feeds of this view only."""
        newest = self.ts[hi - 1].astype("datetime64[us]").item().replace(tzinfo=_dt.timezone.utc)
        self.ctx.posts = self.store.serving_view(newest)
        self.committed = (hi - 1, newest)
        self.refs = {}

    def post(self, blocks: list[dict]) -> dict:
        headers = {"Content-Type": "application/json"}
        if self.tracer:
            headers.update(self.tracer.header())
        req = urllib.request.Request(self.url, data=json.dumps({"blocks": blocks}).encode(), headers=headers)
        with urllib.request.urlopen(req, timeout=60) as resp:
            if resp.status != 200:
                raise RuntimeError(f"HTTP {resp.status}")
            return json.loads(resp.read())

    def call(self, r: dict) -> Op:
        def run():
            with self.op_span("feed"):
                body = self.post(r["blocks"])
            ids, failure = check_feed(body, r["key"], self.refs)
            newest = max(map(int, ids), default=-1)
            if failure is None and r["shape"] == "newest" and newest < self.committed[0]:
                failure = f"stale: newest id {newest} < committed {self.committed[0]}"
            return failure
        return _timed("feed", r["key"], run)

    def warm(self) -> None:
        self.warm_feeds(self.post)

    def check_warm(self) -> None:
        self.check_feeds(self.duck(self.sf_dir, {"events": f"event_id < {self.INITIAL}"}), None)

    def ingest(self, win: Window, lo: int, hi: int) -> Op:
        from pyspark.sql import functions as F

        batch = self.posts.filter((F.col("id") >= lo) & (F.col("id") < hi))

        def run():
            before = _files(self.store.path)
            with self.op_span("ingest"):
                t0 = time.perf_counter()
                self.store.ingest(batch)
                win.ingest_s += time.perf_counter() - t0
                self._commit(hi)
            win.bytes_written += sum(size for f, size in _files(self.store.path).items() if f not in before)
            win.rows_ingested += hi - lo
        return _timed("ingest", f"{lo}-{hi}", run)

    def run(self, seconds: float, clients: int | None = None) -> Window:
        win = Window(start=time.perf_counter())
        reqs = inputs.feed_requests(self.seed, decks=max(2, int(seconds)))
        per = inputs.HANDS * inputs.HAND
        decks = [reqs[i:i + per] for i in range(0, len(reqs), per)]
        while self.cuts and decks and another_unit(win.start, len(win.units), seconds):
            t0 = time.perf_counter()
            op = self.ingest(win, *self.cuts.pop(0))
            win.ops.append(op)
            if op.failure:
                break
            win.ops += closed_loop(decks.pop(0), clients or self.clients, self.call).ops
            win.units.append((t0, time.perf_counter()))
        win.end = time.perf_counter()
        return win

    def after(self) -> None:
        """Every committed id is in the store exactly once (overlaps merged)."""
        from pyspark.sql import functions as F

        row = self.store.read().agg(F.count("*").alias("n"), F.countDistinct("id").alias("d")).collect()[0]
        want = self.committed[0] + 1
        if row["n"] != want or row["d"] != want:
            self.problems.append(f"store holds {row['n']} rows / {row['d']} ids, expected {want}")
        self.store_files = len(_files(self.store.path))

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None


def _files(path: str) -> dict[str, int]:
    """Parquet data files under ``path`` → size in bytes."""
    return {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")}


WORKLOADS = {w.name: w for w in (BatchSuite, FeedServeIngest)}
