"""Self-tests of the benchmark: ``python -m pytest perfbench -q`` from the
repository root. The last test starts a small Spark session."""

from __future__ import annotations

import collections
import http.server
import json
import os
import shutil
import subprocess
import sys
import threading

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, metrics, workloads  # noqa: E402


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert inputs.feed_requests(7, 3) == inputs.feed_requests(7, 3)
    assert inputs.feed_requests(7, 3) != inputs.feed_requests(8, 3)
    assert inputs.ingest_cuts(7, 30_000, 100_000) == inputs.ingest_cuts(7, 30_000, 100_000)
    assert inputs.ingest_cuts(7, 30_000, 100_000) != inputs.ingest_cuts(8, 30_000, 100_000)
    import numpy as np

    a = inputs.events_table(np.random.default_rng([7, 1]), 500)
    assert a.equals(inputs.events_table(np.random.default_rng([7, 1]), 500))
    assert not a.equals(inputs.events_table(np.random.default_rng([8, 1]), 500))


def test_every_deck_has_the_zipf_quotas_and_every_hand_the_same_head():
    for seed in range(5):
        deck = inputs.feed_deck(seed)
        assert collections.Counter(r["shape"] for r in deck) == inputs.DECK_QUOTAS
        for h in range(inputs.HANDS):
            hand = collections.Counter(r["shape"] for r in deck[h * inputs.HAND:(h + 1) * inputs.HAND])
            assert hand["flagship"] == 2 and hand["o5_score_dedup"] == 1 and sum(hand.values()) == inputs.HAND
        # a deck holds every parameter of a shape equally, and a hand's two
        # flagship requests are the same request
        keys = collections.Counter(r["key"] for r in deck)
        assert keys["flagship#0"] == keys["flagship#1"] == 2
        assert keys["o5_score_dedup#0"] == keys["o5_score_dedup#1"] == 1
        assert len({r["key"] for r in deck[:inputs.HAND] if r["shape"] == "flagship"}) == 1


def test_units_stop_at_the_boundary_nearest_the_deadline(monkeypatch):
    clock = {"now": 0.0}
    monkeypatch.setattr(workloads.time, "perf_counter", lambda: clock["now"])
    for unit, want in ((3.0, 3), (4.5, 2), (6.0, 2), (7.0, 1), (25.0, 1)):
        done = 0
        clock["now"] = 0.0
        while workloads.another_unit(0.0, done, 10.0):
            clock["now"] += unit
            done += 1
        assert done == want, unit


def test_rate_counts_ops_of_the_kind_over_whole_units():
    ops = [workloads.Op("feed", "k", t, t + 0.5) for t in (0.0, 0.5, 1.0, 1.5, 2.0, 5.0, 7.0)]
    ops.append(workloads.Op("ingest", "0-10", 0.0, 0.1))
    win = workloads.Window(ops=ops, units=[(0.0, 1.0), (1.0, 2.0), (2.0, 6.0)])
    assert win.rate({"feed"}) == 6 / 6.0
    assert workloads.Window().rate({"feed"}) == 0.0


def test_ingest_cuts_overlap_by_1000_and_cover_the_range():
    cuts = inputs.ingest_cuts(3, 30_000, 100_000)
    assert cuts[0][0] == 30_000 and cuts[-1][1] == 100_000
    for (_, prev_hi), (lo, _) in zip(cuts, cuts[1:]):
        assert prev_hi - lo == 1_000
    assert all(9_000 <= hi - lo <= 12_000 for lo, hi in cuts[:-1])


def test_mix_median_weighs_each_kind_by_its_share():
    samples = [("a", 1.0), ("a", 3.0), ("a", 2.0), ("b", 10.0)]
    assert metrics.mix_median(samples) == (3 * 2.0 + 10.0) / 4
    # one sample crossing the gap between kinds moves it a little, not a jump
    assert abs(metrics.mix_median(samples[:2] + [("a", 9.0)] + samples[3:]) - 4.0) <= 0.75


def test_p95_refuses_without_ten_samples_beyond_it():
    assert metrics.p95([float(i) for i in range(150)]) is None
    assert metrics.p95([1.0] * 1000) is None  # nothing lies beyond a flat tail
    tail = metrics.p95([float(i) for i in range(400)])
    assert tail is not None and sum(v > tail for v in range(400)) >= 10


def test_repeat_of_a_request_must_return_the_same_feed():
    refs: dict[str, list[str]] = {}
    body = {"feed": [{"post": "1"}, {"post": "2"}]}
    assert metrics.check_feed(body, "k", refs)[1] is None
    assert metrics.check_feed(body, "k", refs)[1] is None
    assert metrics.check_feed({"feed": [{"post": "2"}, {"post": "1"}]}, "k", refs)[1] is not None


def test_forged_error_body_with_http_200_counts_as_failed():
    class Forged(http.server.BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_POST(self):
            self.rfile.read(int(self.headers.get("Content-Length", "0")))
            body = json.dumps({"debug": {}, "feed": [], "error": "boom"}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Forged)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        wl = workloads.FeedServeIngest(ROOT, "unused", 1)
        wl.url = f"http://127.0.0.1:{httpd.server_address[1]}{workloads.FEED_PATH}"
        op = wl.call(inputs.request("flagship", 0))
        assert op.failure and "boom" in op.failure
    finally:
        httpd.shutdown()
        httpd.server_close()
        t.join(5)
    assert not t.is_alive()


def test_exits_nonzero_without_a_result_when_the_program_is_missing(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "feed_serve_ingest", "--seed", "1",
                          "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    from perfbench.run import pin_environment
    from query_engine_spark.session import get_spark

    pin_environment(str(tmp_path_factory.mktemp("spark")))

    s = get_spark("perfbench-selftest")
    yield s
    s.stop()


@pytest.mark.parametrize("cls", [workloads.BatchSuite, workloads.FeedServeIngest])
def test_tiny_traced_run_layer_self_times_sum_to_op_wall(spark, tmp_path, monkeypatch, cls):
    """At a tiny scale (sf0.001-sized tables), every op type's layer self
    times cover its wall time to within 10% (the rest is harness glue)."""
    from perfbench.trace import Tracer, summarize

    monkeypatch.setattr(workloads, "FEED_EVENTS", 2_000)
    monkeypatch.setattr(workloads, "BATCH_SIZES", {"events": 1_000, "documents": 200})
    monkeypatch.setattr(workloads.FeedServeIngest, "INITIAL", 1_000)
    wl = cls(ROOT, str(tmp_path), 5)
    wl.write_inputs()
    wl.prepare(spark)
    wl.warm()
    wl.check_warm()
    tracer = Tracer(spark)
    wl.tracer = tracer
    tracer.install(server=getattr(wl, "server", None))
    try:
        win = wl.run(1.0, clients=1)
    finally:
        tracer.uninstall()
        wl.close()
    assert not [o.failure for o in win.ops if o.failure]
    assert not wl.problems
    for kinds in ({o.kind} for o in win.ops):
        s = summarize(tracer, kinds, http_root=wl.http and kinds == {"feed"})
        covered = sum(v for k, v in s["layer_s"].items() if k != "bench")
        assert s["ops"] > 0
        assert abs(covered - s["wall_s"]) <= 0.10 * s["wall_s"], (kinds, s["layer_s"], s["wall_s"])
