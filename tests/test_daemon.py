"""Serving daemon: all six query types over HTTP ≡ LocalSearcher, warm
latency budget, and hot swap on manifest change without restart (the
change-listener contract, Ip2GeoCachedDao.java:194-243 analogue)."""

from __future__ import annotations

import json
import math
import time
import urllib.request

import pytest


@pytest.fixture(scope="module")
def daemon_index(spark, small_transcripts, tmp_path_factory):
    from geospatial_spark.plans.build import build_index

    root = str(tmp_path_factory.mktemp("daemon") / "idx")
    build_index(spark, small_transcripts, root, n_shards=4)
    return root


@pytest.fixture()
def daemon(daemon_index):
    from geospatial_spark.plans.daemon import start_daemon

    srv, port = start_daemon(daemon_index, check_interval=0.05)
    yield srv, port
    srv.shutdown()
    srv.server_close()


def _post(port: int, path: str, obj) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=json.dumps(obj).encode(),
        headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=30) as r:
        return json.loads(r.read())


def _get(port: int, path: str) -> dict:
    with urllib.request.urlopen(
            f"http://127.0.0.1:{port}{path}", timeout=30) as r:
        return json.loads(r.read())


SIX = [
    {"type": "match", "q": "deploy the spark job"},
    {"type": "phrase", "q": "the spark"},
    {"type": "phrase_scored", "q": "the spark"},
    {"type": "near", "q": "deploy spark", "slop": 3},
    {"type": "bool", "should": "deploy spark", "filter": "the"},
    {"type": "bool", "must_not": "deploy"},  # pure-NOT (match-all base)
    # metadata-filtered scored search (docmap mask, metafilter.py)
    {"type": "bool", "should": "the spark", "meta": {"role": "assistant"}},
    {"type": "match", "q": "the spark", "meta": {"role": "user"}},
    # facet aggregation over the full match set
    {"type": "facet", "should": "the spark"},
    # expansion rewrites (prefix / fuzzy / wildcard)
    {"type": "prefix", "q": "sp"},
    {"type": "fuzzy", "q": "w100", "max_edits": 1},
    {"type": "wildcard", "q": "s*k"},
    {"type": "phrase_prefix", "q": "the sp"},
    {"type": "regexp", "q": "s[a-z]+k"},
    {"type": "prefix", "q": "sp", "meta": {"role": "assistant"}},
    # minimum_should_match (required-2 / optional-should filter context)
    {"type": "bool", "should": "the spark deploy",
     "minimum_should_match": 2},
    {"type": "bool", "should": "deploy spark", "filter": "the",
     "minimum_should_match": 0},
    # cursor pagination (search_after page boundary)
    {"type": "match", "q": "the spark", "after": [0.5, "conv-00000100:0"]},
    # per-should-term clause boosts
    {"type": "bool", "should": "the spark deploy",
     "boosts": {"spark": 2.0, "the": 0.1}},
]


def test_all_six_types_match_local(daemon, daemon_index):
    from geospatial_spark.plans.daemon import dispatch
    from geospatial_spark.plans.serve import LocalSearcher

    _srv, port = daemon
    local = LocalSearcher(daemon_index)
    for req in SIX:
        got = _post(port, "/search", {**req, "k": 10})["hits"]
        want = dispatch(local, {**req, "k": 10})
        assert [d for d, _ in got] == [d for d, _ in want], req
        for (_, a), (_, b) in zip(got, want):
            assert math.isclose(a, b, rel_tol=1e-12)


def test_batch_and_health(daemon):
    _srv, port = daemon
    res = _post(port, "/search_batch", [{**r, "k": 5} for r in SIX])
    assert len(res["results"]) == len(SIX)
    h = _get(port, "/health")
    assert h["state"] == "AVAILABLE" and h["n_docs"] > 0


def test_bad_requests(daemon):
    _srv, port = daemon
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(port, "/search", {"type": "nope", "q": "x"})
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(port, "/search", {"type": "match"})  # missing q
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(port, "/nothing")
    assert e.value.code == 404
    # shape validation: object body on the batch path → 400, not a
    # dropped connection from an AttributeError in the handler thread
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(port, "/search_batch", {"type": "match", "q": "x"})
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(port, "/search_batch", ["not-an-object"])
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(port, "/search", ["list-not-object"])
    assert e.value.code == 400
    # unknown meta key → 400 (normalize_meta ValueError)
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(port, "/search", {"type": "bool", "should": "the",
                                "meta": {"bogus": 1}})
    assert e.value.code == 400


def test_server_fault_is_500(daemon):
    """A genuine server-side bug (kernel regression raising TypeError)
    must surface as a 500, not be misreported as a client error."""
    srv, port = daemon
    orig = srv.service.handle

    def boom(_req):
        raise TypeError("kernel regression")

    srv.service.handle = boom
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(port, "/search", {"type": "match", "q": "x"})
        assert e.value.code == 500
    finally:
        srv.service.handle = orig


def test_warm_latency_over_socket(daemon):
    """Warm p50 over the socket stays interactive on the small fixture
    (the sf0.1 p50 evidence is bench.py's q_daemon_p50_ms)."""
    _srv, port = daemon
    _post(port, "/search", {"type": "match", "q": "the spark", "k": 10})
    times = []
    for _ in range(20):
        t0 = time.perf_counter()
        _post(port, "/search", {"type": "match", "q": "deploy index merge",
                                "k": 10})
        times.append(time.perf_counter() - t0)
    p50 = sorted(times)[len(times) // 2]
    assert p50 < 0.020, f"p50 {p50 * 1000:.1f} ms"


def test_hot_swap_on_manifest_change(spark, small_transcripts_pd,
                                     tmp_path):
    """A delta build landing under the daemon is picked up WITHOUT a
    restart; a query mid-swap never errors; n_docs reflects the new
    generation set."""
    from geospatial_spark.plans.build import build_index
    from geospatial_spark.plans.daemon import start_daemon

    half = len(small_transcripts_pd) // 2
    first = spark.createDataFrame(small_transcripts_pd.iloc[:half])
    second = spark.createDataFrame(small_transcripts_pd.iloc[half:])
    root = str(tmp_path / "idx")
    build_index(spark, first, root, n_shards=2)

    srv, port = start_daemon(root, check_interval=0.05)
    try:
        h0 = _get(port, "/health")
        build_index(spark, second, root, n_shards=2, generation="g0002",
                    append=True)
        deadline = time.time() + 30
        while time.time() < deadline:
            h = _get(port, "/health")
            if h["n_docs"] > h0["n_docs"]:
                break
            # queries keep answering while the swap is pending
            _post(port, "/search", {"type": "match", "q": "the", "k": 3})
            time.sleep(0.05)
        assert h["n_docs"] > h0["n_docs"]
        assert set(h["generations"]) >= {"g0001", "g0002"}
        assert h["swaps"] >= 1
    finally:
        srv.shutdown()
        srv.server_close()


def test_cli_serve_smoke(daemon_index):
    """cli/serve.py end-to-end: spawn the process, parse the serving
    line, query over HTTP, terminate."""
    import json
    import signal
    import subprocess
    import sys
    import time as _time

    proc = subprocess.Popen(
        [sys.executable, "cli/serve.py", "--index", daemon_index,
         "--port", "0"],
        stdout=subprocess.PIPE, text=True, cwd="/root/repo")
    try:
        line = proc.stdout.readline()
        addr = json.loads(line)["addr"]
        port = int(addr[1])
        deadline = _time.time() + 30
        h = None
        while _time.time() < deadline:
            try:
                h = _get(port, "/health")
                break
            except OSError:
                _time.sleep(0.2)
        assert h and h["n_docs"] > 0
        hits = _post(port, "/search",
                     {"type": "match", "q": "the spark", "k": 5})["hits"]
        assert len(hits) > 0
    finally:
        proc.send_signal(signal.SIGINT)
        proc.wait(timeout=30)


def test_swap_failure_visible_in_health(daemon_index, tmp_path):
    """A new AVAILABLE manifest that lists a missing generation cannot
    be swapped in: /health counts the failed attempts and shows the
    last error, and queries keep answering from the current index."""
    import shutil

    from geospatial_spark.plans import lifecycle as lc
    from geospatial_spark.plans.daemon import dispatch, start_daemon
    from geospatial_spark.plans.serve import LocalSearcher

    root = tmp_path / "idx"
    shutil.copytree(daemon_index, root)
    local = LocalSearcher(str(root))
    srv, port = start_daemon(str(root), check_interval=0.05)
    try:
        h0 = _get(port, "/health")
        assert h0["swap_failures"] == 0 and h0["last_swap_error"] is None
        m = lc.read_manifest(root)
        lc.publish_manifest(root, {
            **m, "built_at_unix": m["built_at_unix"] + 1,
            "generations": m["generations"] + [
                {**m["generations"][0], "id": "g9999"}]})
        deadline = time.time() + 30
        while time.time() < deadline:
            # a request is what triggers the manifest check
            _post(port, "/search", {"type": "match", "q": "the", "k": 3})
            h = _get(port, "/health")
            if h["swap_failures"] >= 1:
                break
            time.sleep(0.05)
        assert h["swap_failures"] >= 1
        assert "g9999" in h["last_swap_error"]
        assert h["swaps"] == 0
        assert h["built_at_unix"] == h0["built_at_unix"]
        for q in ["deploy index merge", "the spark"]:
            req = {"type": "match", "q": q, "k": 10}
            got = _post(port, "/search", req)["hits"]
            want = dispatch(local, req)
            assert [d for d, _ in got] == [d for d, _ in want], q
    finally:
        srv.shutdown()
        srv.server_close()
