"""Layer tracing from outside the engine.

A ``Tracer`` wraps the public entry points of each module (module or class
attributes, replaced for the traced window and restored after) so that every
call records a span: name, layer, start, end, parent span, op id. Spans live
in memory and are written out once at the end. Nothing inside
``query_engine_spark`` changes.

Spark's own phases are read from outside too: Catalyst phase times come from
``queryExecution().tracker().phases()`` and job / stage / task counts from
the status store, looked up by the job-id range each action spans.

Self time of a span is its duration minus the part its children cover; an
op's self times per layer sum to the op's wall time. The op root's own self
time is the harness (``bench``) except on HTTP ops, where the client-side
remainder is the serving layer's transport (``api``).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import sys
import threading
import time
from collections import defaultdict

LAYERS = ("api", "plans", "scripting", "registry", "sources", "cache", "store", "catalyst", "spark", "bench")
SPAN_HEADER = "X-Perfbench-Span"


class Tracer:
    def __init__(self, spark):
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._job_cache: dict[int, dict] = {}

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else getattr(self._local, "adopted", None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, *, op: str | None = None, **attrs):
        parent = self.current()
        if parent is None and op is None:
            yield None  # a thread with no traced caller (e.g. a helper thread)
            return
        s = {"id": next(self._ids), "name": name, "layer": layer,
             "parent": parent["id"] if parent else None,
             "op": op or parent["op"], "start": time.perf_counter(), "end": None, **attrs}
        stack = self._stack()
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    @contextlib.contextmanager
    def op(self, kind: str):
        """Root span of one operation; records the job-id range it spans."""
        with self.span("op", "bench", op=f"{kind}-{next(self._ids)}", kind=kind) as s:
            s["jobs"] = [self._dag.nextJobId(), None]
            try:
                yield s
            finally:
                s["jobs"][1] = self._dag.nextJobId()

    @contextlib.contextmanager
    def adopt(self, parent: dict | None):
        """Run the body as if called from ``parent`` (a span from another thread)."""
        prev = getattr(self._local, "adopted", None)
        self._local.adopted = parent
        try:
            yield
        finally:
            self._local.adopted = prev

    def header(self) -> dict:
        cur = self.current()
        return {SPAN_HEADER: json.dumps({"id": cur["id"], "op": cur["op"]})} if cur else {}

    # -- wrapping ------------------------------------------------------------

    def patch(self, owner, attr: str, wrapper_factory) -> None:
        original = getattr(owner, attr)
        setattr(owner, attr, wrapper_factory(original))
        self._undo.append((owner, attr, original))

    def wrap(self, owner, attr: str, name: str, layer: str, counter: str | None = None) -> None:
        tracer = self

        def factory(fn):
            def traced(*args, **kwargs):
                if counter:
                    with tracer._lock:
                        tracer.counts[counter] += 1
                with tracer.span(name, layer):
                    return fn(*args, **kwargs)
            traced.__wrapped__ = fn
            return traced

        self.patch(owner, attr, factory)

    def wrap_bound(self, module_prefix: str, original, name: str, layer: str, counter: str | None = None) -> None:
        """Wrap ``original`` in every loaded module that bound it by name."""
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(module_prefix):
                for attr, value in list(vars(mod).items()):
                    if value is original:
                        self.wrap(mod, attr, name, layer, counter)

    def wrap_action(self, owner, attr: str, name: str, df_of, *, force_plan: bool = False) -> None:
        """Wrap a Spark action: a ``spark`` span carrying the job-id range and
        the Catalyst phase times of the DataFrame ``df_of(args)`` acts on.

        A collect runs on the DataFrame's own QueryExecution, so its phases
        are read after the call. A write plans a separate command that shares
        only the analysis entry of the DataFrame's tracker, so its own
        optimization and planning are not reachable from Python;
        ``force_plan`` times a re-plan of the DataFrame up front as an
        estimate of them. That pass is extra work inside the traced op (the
        trace overhead shows it), and the write's own planning still runs
        inside the call and stays in the ``spark`` layer's self time."""
        tracer = self

        def factory(fn):
            def traced(*args, **kwargs):
                if tracer.current() is None:
                    return fn(*args, **kwargs)
                df = df_of(args, kwargs)
                with tracer.span(name, "spark") as s:
                    qe = df._jdf.queryExecution()
                    # the DataFrame was analyzed when built; a write's command
                    # analysis later merges into the same tracker entry
                    analysis = _phases(qe).get("analysis", 0.0)
                    if force_plan:
                        t0 = time.perf_counter()
                        qe.optimizedPlan()
                        t1 = time.perf_counter()
                        qe.executedPlan()
                        s["catalyst"] = {"optimization": (t1 - t0) * 1000, "planning": (time.perf_counter() - t1) * 1000}
                    s["jobs"] = [tracer._dag.nextJobId(), None]
                    try:
                        return fn(*args, **kwargs)
                    finally:
                        s["jobs"][1] = tracer._dag.nextJobId()
                        phases = _phases(qe)
                        s.setdefault("catalyst", {})
                        for k in ("optimization", "planning"):
                            s["catalyst"].setdefault(k, phases.get(k, 0.0))
                        s["catalyst"]["analysis"] = analysis
            traced.__wrapped__ = fn
            return traced

        self.patch(owner, attr, factory)

    def install(self, server=None) -> None:
        from pyspark.sql import DataFrame, DataFrameWriter

        from query_engine_spark import api, cache
        from query_engine_spark.plans import blocks
        from query_engine_spark.sources import testdata
        from query_engine_spark.streaming.job import PostStore

        self.wrap(api, "generate_feed_skeleton", "api.generate_feed_skeleton", "api")
        self.wrap(api, "translate_pipeline", "plans.translate_pipeline", "plans")
        self.wrap(blocks, "translate_pipeline", "plans.translate_pipeline", "plans")
        self.wrap(blocks, "translate_script_with_tier", "scripting.translate", "scripting")
        self.wrap_bound("query_engine_spark", testdata.load_table, "sources.load_table", "sources", "sources.load_table")
        self.wrap_bound("query_engine_spark", testdata.posts_view, "sources.posts_view", "sources")
        self.wrap_bound("query_engine_spark", cache.tracked_persist, "cache.persist", "cache", "cache.persists")
        self.wrap_bound("query_engine_spark", cache.tracked_local_checkpoint, "cache.checkpoint", "cache", "cache.persists")
        self.wrap_bound("query_engine_spark", cache.clear_tracked_cache, "cache.clear", "cache")
        self.wrap(PostStore, "ingest", "store.ingest", "store")
        self.wrap(PostStore, "serving_view", "store.serving_view", "store")
        self.patch(blocks.PipelineContext, "note_script_tier", self._count_tiers)
        self.wrap_action(api, "_collect_with_timeout", "spark.collect", lambda a, k: a[1])
        self.wrap_action(DataFrame, "collect", "spark.collect", lambda a, k: a[0])
        self.wrap_action(DataFrameWriter, "save", "spark.write", lambda a, k: a[0]._df, force_plan=True)
        self.wrap_action(DataFrameWriter, "parquet", "spark.write", lambda a, k: a[0]._df, force_plan=True)
        self._wrap_freed(cache)
        if server is not None:
            self._adopt_http(server)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def _count_tiers(self, fn):
        tracer = self

        def note(ctx, block, kind, tier, reason):
            with tracer._lock:
                tracer.counts["scripting.udf_blocks"] += tier == "udf"
            return fn(ctx, block, kind, tier, reason)
        return note

    def _wrap_freed(self, cache) -> None:
        """Count what clear_tracked_cache frees: the registry's length before."""
        tracer = self

        def factory(fn):
            def clear(*args, **kwargs):
                with tracer._lock:
                    tracer.counts["cache.freed"] += len(cache._PERSISTED)
                return fn(*args, **kwargs)
            clear.__wrapped__ = fn
            return clear
        self.patch(cache, "clear_tracked_cache", factory)

    def _adopt_http(self, server) -> None:
        """Link server-side spans to the client op through a request header."""
        tracer = self
        handler = server._httpd.RequestHandlerClass

        def factory(fn):
            def do_post(h):
                raw = h.headers.get(SPAN_HEADER)
                parent = json.loads(raw) if raw else None
                with tracer.adopt(parent):
                    return fn(h)
            return do_post
        self.patch(handler, "do_POST", factory)

    # -- summary -------------------------------------------------------------

    def jobs(self, first: int, last: int) -> list[dict]:
        """Stage and task counts of the jobs with ids in [first, last)."""
        out = []
        for j in range(first, last):
            if j not in self._job_cache:
                try:
                    jd = self._store.job(j)
                    self._job_cache[j] = {"stages": jd.stageIds().size() - jd.numSkippedStages(),
                                          "tasks": jd.numCompletedTasks() + jd.numFailedTasks()}
                except Exception:  # evicted from the status store: count the job only
                    self._job_cache[j] = {"stages": 0, "tasks": 0}
            out.append(self._job_cache[j])
        return out


def _phases(qe) -> dict[str, float]:
    ph = qe.tracker().phases()
    out = {}
    it = ph.keySet().iterator()
    while it.hasNext():
        k = it.next()
        out[k] = float(ph.apply(k).durationMs())
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → self seconds (duration minus the union-free sum of children,
    clamped at zero; children of one span never overlap in a traced op)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: max(0.0, s["end"] - s["start"] - child[s["id"]]) for s in spans}


def summarize(tracer: Tracer, op_kinds: set[str], *, http_root: bool) -> dict:
    """Per-layer self seconds, Catalyst phases and Spark counts over the ops
    whose root kind is in ``op_kinds``."""
    spans = [s for s in tracer.spans if s["end"] is not None]
    by_op = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    roots = {o: next((s for s in ss if s["name"] == "op"), None) for o, ss in by_op.items()}
    ops = {o: ss for o, ss in by_op.items() if roots[o] is not None and roots[o]["kind"] in op_kinds}
    selfs = self_times(spans)
    layer_s: dict[str, float] = defaultdict(float)
    inclusive_s: dict[str, float] = defaultdict(float)
    catalyst_ms: dict[str, float] = defaultdict(float)
    wall = http_s = 0.0
    jobs = stages = tasks = action_jobs = 0
    for o, ss in ops.items():
        root = roots[o]
        wall += root["end"] - root["start"]
        by_id = {s["id"]: s for s in ss}
        # spans end (and are appended) children first, so a carve from a
        # parent's self time lands before the parent is added up below
        for s in ss:
            if by_id.get(s["parent"], {}).get("name") != s["name"]:
                inclusive_s[s["name"]] += s["end"] - s["start"]
            if "catalyst" in s and s is not root:
                c = s["catalyst"]
                carve = min(selfs[s["id"]], (c["optimization"] + c["planning"]) / 1000)
                selfs[s["id"]] -= carve
                layer_s["catalyst"] += carve
                # the final analysis ran in the caller, just before the action
                host = by_id.get(s["parent"])
                if host is not None:
                    a = min(selfs[host["id"]], c["analysis"] / 1000)
                    selfs[host["id"]] -= a
                    layer_s["catalyst"] += a
                for k, v in c.items():
                    catalyst_ms[k] += v
                action_jobs += s["jobs"][1] - s["jobs"][0]
            layer = "api" if (s is root and http_root) else s["layer"]
            layer_s[layer] += selfs[s["id"]]
            if s is root and http_root:
                http_s += selfs[s["id"]]
        mine = tracer.jobs(*root["jobs"])
        jobs += len(mine)
        stages += sum(j["stages"] for j in mine)
        tasks += sum(j["tasks"] for j in mine)
    n = max(1, len(ops))
    return {
        "ops": len(ops), "wall_s": wall, "http_s": http_s, "layer_s": dict(layer_s), "inclusive_s": dict(inclusive_s),
        "catalyst_ms": {k: v / n for k, v in catalyst_ms.items()},
        "jobs_per_op": jobs / n, "stages_per_op": stages / n, "tasks_per_op": tasks / n,
        "construct_jobs_per_op": max(0, jobs - action_jobs) / n,
    }
