"""The workloads, their answer checks and the traced layer measurements.

Each workload function takes a `Run` and fills in its end-to-end
metrics, its attempted/failed counts and, when tracing, its per-layer
metrics. Untraced and traced runs execute the same steps; the traced
run also wraps the layers' public functions in spans and runs the layer
probes after the timed window.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import random
import shutil
import time
from pathlib import Path

from perfbench import gen, stack
from perfbench.stats import (Tracer, busy_seconds, cpu_ticks, median,
                             percentile, self_times, steal_share,
                             tail_percentile)

SCORE_TOL = 1e-9
SETUP_REPEATS = 3
WARMUP_CYCLES = 2  # after one, the next ingest cycle still runs ~15% slow
SPARK_K = 5000  # above IndexSearcher.LOCAL_SEARCH_MAX_K: the Spark route
CHECK_SAMPLE = 40  # daemon replies re-checked against in-process answers
REPLAY_SECONDS = 6.0  # budget for the traced in-process replay
BURST_SECONDS = 5.0  # daemon probe for workloads that do not serve
# share of a serving window given to nproc concurrent clients; the rest
# is one client whose requests are metered in daemon CPU time
CONCURRENT_SHARE = 1 / 3

# public functions the traced run wraps: LocalSearcher's methods, and
# the kernels as (module, attribute, layer)
SERVE_METHODS = ("search", "search_phrase", "search_near", "search_bool",
                 "facet_counts", "match_stats", "search_collapsed",
                 "search_decayed")
KERNELS = (("geospatial_spark.plans.serve", "wand_shard", "operators.wand"),
           ("geospatial_spark.operators.phrase", "phrase_match_shard",
            "operators.phrase"),
           ("geospatial_spark.operators.phrase", "near_match_shard",
            "operators.phrase"),
           ("geospatial_spark.operators.boolquery", "bool_match_shard",
            "operators.boolquery"),
           ("geospatial_spark.operators.metafilter", "meta_mask_table",
            "operators.metafilter"),
           ("geospatial_spark.operators.metafilter", "facet_values",
            "operators.metafilter"))
SERVE_TYPES = ("match", "phrase", "near", "bool", "facet", "match_stats",
               "collapse", "decay")
# layers of the in-process serving path whose self time is reported
SERVE_LAYERS = ("plans.serve", "operators.wand", "operators.phrase",
                "operators.boolquery", "operators.metafilter")
N_CONVS = gen.BASE_CONVS + gen.DELTA_CONVS
QUERY_KINDS = ("deep_k", "search_many", "search_many_mixed", "local_batch")

# per-layer metrics of a traced run: name → (unit, better)
PER_LAYER = {
    "tokenize.tokens_per_s": ("1/s", "higher"),
    "codec.encode_values_per_s": ("1/s", "higher"),
    "codec.decode_values_per_s": ("1/s", "higher"),
    "build.wall_s": ("s", "lower"),
    "build.delta_wall_s": ("s", "lower"),
    "build.postings_written": ("count", "lower"),
    "build.bytes_compressed": ("bytes", "lower"),
    "build.shard_postings_max_over_mean": ("ratio", "lower"),
    "build.index_bytes_per_text_byte": ("ratio", "lower"),
    "compact.wall_s": ("s", "lower"),
    "compact.bytes_in": ("bytes", "lower"),
    "compact.bytes_out": ("bytes", "lower"),
    "serve.init_ms": ("ms", "lower"),
    **{f"serve.{t}_ms": ("ms", "lower") for t in SERVE_TYPES},
    "serve.sum_df_per_request": ("count", "lower"),
    **{f"serve.self_ms.{layer}": ("ms", "lower") for layer in SERVE_LAYERS},
    "daemon.http_overhead_ms": ("ms", "lower"),
    "daemon.queue_wait_ms": ("ms", "lower"),
    "daemon.tail_ms": ("ms", "lower"),
    "daemon.cheap_tail_ms": ("ms", "lower"),
    "query.spark_jobs_per_call": ("count", "lower"),
    "query.local_ratio": ("ratio", "higher"),
    "query.deep_k_ms": ("ms", "lower"),
    "query.search_many_ms": ("ms", "lower"),
    "query.search_many_mixed_ms": ("ms", "lower"),
    "spark.noop_job_ms": ("ms", "lower"),
    "traced.p50_cpu_ms": ("ms", "lower"),
    "traced.ops_per_cpu_s": ("1/s", "higher"),
}
# the layer each workload is predicted to spend most of its time in
# ("in-process serving": plans.serve and the kernels it calls, as
# opposed to plans.daemon's HTTP, JSON and request-cache path)
PREDICTED = {"ingest": "plans.build", "serve_cold_mix": "in-process serving",
             "serve_warm": "plans.daemon", "spark_batch": "plans.query"}


class Run:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, repo: Path, work: Path):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.repo, self.work = repo, work
        self.tracer = Tracer() if trace else None
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.report: dict = {}
        # set-up stages: CPU seconds (the metric) and wall seconds
        self.setup_parts: dict[str, float] = {}
        self.setup_wall: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.daemon = None
        self.window = (0, 0)  # spans of the timed window (ingest)
        self.job_groups = itertools.count()  # fresh Spark job group ids

    # -- set-up bookkeeping ---------------------------------------------

    def _measured(self, fn):
        t0, c0 = time.perf_counter(), cpu_ticks()
        out = fn()
        return out, time.perf_counter() - t0, busy_seconds(c0, cpu_ticks())

    def once(self, name: str, fn):
        out, wall, cpu = self._measured(fn)
        self.setup_parts[name], self.setup_wall[name] = cpu, wall
        return out

    def repeated(self, name: str, fn, reps: int = SETUP_REPEATS):
        """Run a set-up stage `reps` times; its median counts."""
        walls, cpus, out = [], [], None
        for _ in range(reps):
            out, wall, cpu = self._measured(fn)
            walls.append(wall)
            cpus.append(cpu)
        self.setup_parts[name] = median(cpus)
        self.setup_wall[name] = median(walls)
        return out

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.report.setdefault("check_failures", []).append(what)

    def close(self) -> None:
        daemon, spark, self.daemon, self.spark = (self.daemon, self.spark,
                                                  None, None)
        try:
            if daemon is not None:
                daemon.stop()
        finally:
            if spark is not None:
                stack.stop_spark(spark)


# -- shared set-up ---------------------------------------------------------

def _corpus(run: Run):
    base = gen.corpus(run.seed, 0, gen.BASE_CONVS)
    delta = gen.corpus(run.seed, gen.BASE_CONVS,
                       gen.BASE_CONVS + gen.DELTA_CONVS)
    return base, delta


def _warm_spark(run: Run, base, delta) -> None:
    """Untimed cycles on the same rows: JVM code paths, Python workers
    and the package zip are warm before anything is timed."""
    for _ in range(WARMUP_CYCLES):
        stack.ingest(run.spark, run.work / "warm-index", base, delta)
    shutil.rmtree(run.work / "warm-index", ignore_errors=True)


def _start_spark_and_corpus(run: Run, warm: bool):
    run.spark = run.once("spark_start_s", lambda: stack.start_spark(run.work))
    base, delta = run.repeated("corpus_s", lambda: _corpus(run))
    if warm:
        run.once("spark_warmup_s", lambda: _warm_spark(run, base, delta))
    if run.tracer is not None:
        from geospatial_spark.plans import build, compact

        run.tracer.wrap(build, "build_index", "plans.build")
        run.tracer.wrap(compact, "merge_generations", "plans.compact")
    return base, delta


def _text_bytes(*pdfs) -> int:
    return int(sum(p["text"].fillna("").str.encode("utf-8").str.len().sum()
                   for p in pdfs))


def _record_ingest_layers(run: Run, step: dict, base, delta):
    """plans.build / plans.compact metrics from one ingest pass."""
    shards = step["build_manifest"]["shards"]
    postings = [int(s["postings_written"]) for s in shards]
    mean = sum(postings) / max(len(postings), 1)
    run.layers.update({
        "build.wall_s": step["build_s"],
        "build.delta_wall_s": step["delta_s"],
        "build.postings_written": float(sum(postings)),
        "build.bytes_compressed": float(sum(int(s["bytes_compressed"])
                                            for s in shards)),
        "build.shard_postings_max_over_mean": max(postings) / mean,
        "build.index_bytes_per_text_byte":
            step["bytes_out"] / _text_bytes(base, delta),
        "compact.wall_s": step["merge_s"],
        "compact.bytes_in": float(step["bytes_in"]),
        "compact.bytes_out": float(step["bytes_out"]),
    })


# -- answer checks -------------------------------------------------------

def _same_hits(a, b) -> bool:
    """Same doc order; scores within SCORE_TOL (rows of (doc, score))."""
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if x[0] != y[0] or abs(float(x[1]) - float(y[1])) > SCORE_TOL:
            return False
    return True


def _plain_rows(rows):
    from geospatial_spark.plans.daemon import _plain

    return json.loads(json.dumps([[_plain(v) for v in r] for r in rows]))


def _oracle_check(run: Run, answer, base, delta) -> None:
    """A seeded sample of match and near requests, rank-identical to
    the pure-Python reference oracle over the same generated rows."""
    import pandas as pd

    from oracle.oracle import OracleIndex

    both = pd.concat([base, delta], ignore_index=True)
    rows = list(zip(both["conv_id"], both["turn_idx"].astype(int),
                    both["text"].fillna("")))
    ora = OracleIndex.build(rows)
    for req in gen.oracle_sample(run.seed):
        if req["type"] == "match":
            want = ora.search(req["q"], req["k"])
        else:
            want = [(d, s) for d, s, _ in
                    ora.search_near(rows, req["q"], req["slop"], req["k"])]
        got = answer(req)
        run.check(_same_hits(got, want), f"oracle {req}")


# -- traced layer probes ---------------------------------------------------

def _probe_tokenize(run: Run, base) -> None:
    from geospatial_spark.functions.tokenize import tokenize_encoded

    texts = base["text"]
    walls, n = [], 0
    for _ in range(3):
        t0 = time.perf_counter()
        with run.tracer.span("functions.tokenize", "tokenize_encoded"):
            codes = tokenize_encoded(texts)[0]
        walls.append(time.perf_counter() - t0)
        n = len(codes)
    run.layers["tokenize.tokens_per_s"] = n / median(walls)


def _probe_codec(run: Run, root: Path) -> None:
    """Decode every doc-gap block of the served segments, then encode
    the decoded values again."""
    import pyarrow.parquet as pq

    from geospatial_spark.functions.codec import varint_decode, varint_encode
    from geospatial_spark.plans import lifecycle as lc

    m = lc.read_manifest(str(root))
    blocks = []
    for g in m["generations"]:
        for p in sorted(Path(lc.gen_dir(str(root), g["id"]))
                        .glob("segments-*.parquet")):
            col = pq.read_table(p, columns=["doc_blocks"]).column("doc_blocks")
            for lst in col.to_pylist():
                blocks.extend(lst or [])
    t0 = time.perf_counter()
    with run.tracer.span("functions.codec", "varint_decode"):
        decoded = [varint_decode(b) for b in blocks]
    t1 = time.perf_counter()
    with run.tracer.span("functions.codec", "varint_encode"):
        for v in decoded:
            varint_encode(v)
    t2 = time.perf_counter()
    n = sum(len(v) for v in decoded)
    run.layers["codec.decode_values_per_s"] = n / (t1 - t0)
    run.layers["codec.encode_values_per_s"] = n / (t2 - t1)


def _dictionary(root: Path) -> dict[str, int]:
    import pyarrow.parquet as pq

    from geospatial_spark.plans import lifecycle as lc

    m = lc.read_manifest(str(root))
    df: dict[str, int] = {}
    for g in m["generations"]:
        t = pq.read_table(Path(lc.gen_dir(str(root), g["id"])) / "dictionary",
                          columns=["term", "df"])
        for term, d in zip(t.column("term").to_pylist(),
                           t.column("df").to_pylist()):
            df[term] = df.get(term, 0) + int(d)
    return df


def _request_terms(req: dict) -> list[str]:
    from geospatial_spark.functions.tokenize import tokenize_py

    text = " ".join(str(req.get(f, "")) for f in
                    ("q", "should", "filter", "must_not"))
    return sorted(set(tokenize_py(text)))


def _replay_in_process(run: Run, root: Path, stream) -> dict[int, float]:
    """Serve `stream` (cheap, request) pairs in order through an
    in-process LocalSearcher with every layer boundary spanned. Returns
    service seconds per stream position."""
    import importlib

    from geospatial_spark.plans import serve
    from geospatial_spark.plans.daemon import dispatch

    tr = run.tracer
    for mod, attr, layer in KERNELS:
        tr.wrap(importlib.import_module(mod), attr, layer)
    for meth in SERVE_METHODS:
        tr.wrap(serve.LocalSearcher, meth, "plans.serve")

    t0 = time.perf_counter()
    with tr.span("plans.serve", "__init__"):
        ls = serve.LocalSearcher(str(root), preload_docmaps=True)
    run.layers["serve.init_ms"] = (time.perf_counter() - t0) * 1e3
    dfs = _dictionary(root)

    by_type: dict[str, list[float]] = {t: [] for t in SERVE_TYPES}
    service: dict[int, float] = {}
    sum_df = []
    first = len(tr.spans)
    deadline = time.perf_counter() + REPLAY_SECONDS
    for i, (_cheap, req) in enumerate(stream):
        if time.perf_counter() > deadline:
            # past the budget: only types not yet timed
            missing = {t for t in SERVE_TYPES if not by_type[t]}
            if not missing:
                break
            if req["type"] not in missing:
                continue
        t0 = time.perf_counter()
        with tr.request(i, "plans.serve", req["type"]):
            dispatch(ls, req)
        dt = time.perf_counter() - t0
        service[i] = dt
        by_type[req["type"]].append(dt)
        sum_df.append(sum(dfs.get(t, 0) for t in _request_terms(req)))
    for t in SERVE_TYPES:
        run.layers[f"serve.{t}_ms"] = median(by_type[t]) * 1e3
    run.layers["serve.sum_df_per_request"] = sum(sum_df) / len(sum_df)
    own = self_times(tr.spans[first:])
    for layer in SERVE_LAYERS:
        run.layers[f"serve.self_ms.{layer}"] = (own.get(layer, 0.0) * 1e3
                                                / len(service))
    return service


def _probe_stream(run: Run) -> list:
    """The layer-probe request stream: a cold mix on its own seed."""
    return gen.take(gen.cold_mix_stream(run.seed + 7, N_CONVS), 400)


def _daemon_layers(run: Run, records, service: dict[int, float]) -> None:
    """plans.daemon metrics from a closed loop's records plus the
    in-process service time of the same requests."""
    ok = [r for r in records if r.hits is not None]
    lat = [r.seconds for r in ok]
    cheap = [r.seconds for r in ok if r.cheap]
    waits = [r.seconds - service[r.i] for r in ok if r.i in service]
    run.layers["daemon.queue_wait_ms"] = median(waits) * 1e3
    # the median stands in when under 20 samples leave no tail
    q = tail_percentile(len(lat)) or 50
    qc = tail_percentile(len(cheap)) or 50
    run.layers["daemon.tail_ms"] = percentile(lat, q) * 1e3
    run.layers["daemon.cheap_tail_ms"] = percentile(cheap, qc) * 1e3
    run.report["daemon_tail"] = {"all": [q, len(lat)],
                                 "cheap": [qc, len(cheap)]}
    c = run.daemon.client()
    try:
        # the workload's own traffic, before the cached round trips below
        # (0 on a stream of unique requests, so a report entry, not
        # a per-layer metric)
        rc = c.call("GET", "/health")["request_cache"]
        run.report["req_cache_hit_ratio"] = (
            rc["hits"] / max(1, rc["hits"] + rc["misses"]))
        req = ok[0].req
        walls = []
        for _ in range(50):
            t0 = time.perf_counter()
            with run.tracer.span("plans.daemon", "cached_round_trip"):
                c.search(req)
            walls.append(time.perf_counter() - t0)
        run.layers["daemon.http_overhead_ms"] = median(walls) * 1e3
    finally:
        c.close()


def _spark_calls(run: Run, searcher, calls, deadline=None):
    """Closed-loop IndexSearcher calls (one caller). Returns records
    (kind, seconds, n_queries, argument, result, Spark jobs run, busy
    CPU seconds)."""
    sc = run.spark.sparkContext
    out = []
    for kind, arg in calls:
        if deadline is not None and time.perf_counter() >= deadline:
            break
        group = f"perfbench-{next(run.job_groups)}"  # jobs stay per group
        sc.setJobGroup(group, kind)
        t0, c0 = time.perf_counter(), cpu_ticks()
        ctx = (run.tracer.span("plans.query", kind) if run.tracer
               else contextlib.nullcontext())
        with ctx:
            if kind == "deep_k":
                res, n = searcher.search(arg, SPARK_K), 1
            elif kind == "search_many":
                res, n = searcher.search_many(arg, SPARK_K), len(arg)
            elif kind == "search_many_mixed":
                res, n = searcher.search_many_mixed(arg, SPARK_K), len(arg)
            else:
                res, n = searcher.search_many(arg, 10), len(arg)
        dt, cpu = time.perf_counter() - t0, busy_seconds(c0, cpu_ticks())
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        out.append((kind, dt, n, arg, res, jobs, cpu))
    sc.setJobGroup("perfbench-idle", "idle")
    return out


def _query_layers(run: Run, recs) -> None:
    sc = run.spark.sparkContext
    by_kind: dict[str, list[float]] = {}
    for kind, dt, *_rest in recs:
        by_kind.setdefault(kind, []).append(dt)
    jobs = [r[5] for r in recs]
    run.layers["query.spark_jobs_per_call"] = sum(jobs) / len(jobs)
    run.layers["query.local_ratio"] = jobs.count(0) / len(jobs)
    for kind in ("deep_k", "search_many", "search_many_mixed"):
        run.layers[f"query.{kind}_ms"] = median(by_kind[kind]) * 1e3
    walls = []
    for _ in range(7):
        t0 = time.perf_counter()
        with run.tracer.span("spark", "noop_job"):
            sc.parallelize([0], 1).count()
        walls.append(time.perf_counter() - t0)
    run.layers["spark.noop_job_ms"] = median(walls) * 1e3


def _spark_probe(run: Run, root: Path) -> None:
    from geospatial_spark.plans.query import IndexSearcher

    searcher = IndexSearcher(run.spark, str(root))
    calls = gen.spark_calls(run.seed + 7, 7)
    _spark_calls(run, searcher, calls[:3])  # warm-up
    _query_layers(run, _spark_calls(run, searcher, calls[3:]))


# -- workloads ---------------------------------------------------------------

def ingest(run: Run) -> None:
    base, delta = _start_spark_and_corpus(run, warm=True)
    n_turns = len(base) + len(delta)
    walls, steps = [], []
    first = len(run.tracer.spans) if run.tracer else 0
    t_end = time.perf_counter() + run.seconds
    steals, busy = [], []
    while not walls or time.perf_counter() < t_end:
        root = run.work / f"index-{len(walls)}"
        t0, ticks = time.perf_counter(), cpu_ticks()
        step = stack.ingest(run.spark, root, base, delta)
        walls.append(time.perf_counter() - t0)
        t1 = cpu_ticks()
        steals.append(steal_share(ticks, t1))
        busy.append(busy_seconds(ticks, t1))
        steps.append((root, step))
        if len(steps) > 1:
            shutil.rmtree(steps[-2][0], ignore_errors=True)
    run.window = (first, len(run.tracer.spans) if run.tracer else 0)
    run.metrics["p50_cpu_ms"] = median(busy) * 1e3
    run.metrics["ops_per_cpu_s"] = n_turns * len(busy) / sum(busy)
    run.report["cycles"] = {"cpu_s": busy, "wall_s": walls, "steal": steals,
                            "wall_p50_ms": median(walls) * 1e3,
                            "turns_per_wall_s": n_turns * len(walls)
                            / sum(walls)}
    run.report["steps"] = [{k: v for k, v in s.items() if k.endswith("_s")}
                           for _r, s in steps]

    root, step = steps[-1]
    from geospatial_spark.plans import lifecycle as lc
    from geospatial_spark.plans.serve import LocalSearcher

    m = lc.read_manifest(str(root))
    run.check(int(m["n_docs"]) == n_turns and
              int(m["n_shards"]) == gen.MERGED_SHARDS, "merged manifest")
    ls = LocalSearcher(str(root), preload_docmaps=True)
    _oracle_check(run, lambda r: _inproc(ls, r), base, delta)

    if run.tracer is not None:
        _record_ingest_layers(run, step, base, delta)
        _probe_tokenize(run, base)
        _probe_codec(run, root)
        _spark_probe(run, root)
        _serve_probe(run, root)


def _inproc(ls, req):
    from geospatial_spark.plans.daemon import dispatch

    return _plain_rows(dispatch(ls, req))


def _serve_probe(run: Run, root: Path) -> None:
    """Serving layers for workloads that do not serve: in-process
    replay plus a short daemon burst of the probe stream."""
    stream = _probe_stream(run)
    service = _replay_in_process(run, root, stream)
    run.daemon = stack.Daemon(run.repo, root, run.work / "daemon.log")
    records = stack.closed_loop(run.daemon, stream, BURST_SECONDS,
                                stack.NPROC, run.tracer)
    _daemon_layers(run, records, service)


def _serving_index(run: Run):
    # the served index is set-up, not a metric: its build runs cold
    base, delta = _start_spark_and_corpus(run, warm=False)
    root = run.work / "index"
    run.once("index_s", lambda: stack.build_served(run.spark, root, base,
                                                   delta))
    if run.tracer is not None:
        # the write-side layers, from one (warm) ingest pass aside
        aside = run.work / "ingest-probe"
        step = stack.ingest(run.spark, aside, base, delta)
        _record_ingest_layers(run, step, base, delta)
        _probe_tokenize(run, base)
        shutil.rmtree(aside, ignore_errors=True)
        _probe_codec(run, root)
    return base, delta, root


def _start_daemon(run: Run, root: Path, warm) -> None:
    def start():
        if run.daemon is not None:
            run.daemon.stop()
        run.daemon = stack.Daemon(run.repo, root, run.work / "daemon.log")
        c = run.daemon.client()
        try:
            c.call("GET", "/health")
            for _cheap, req in warm:
                c.search(req)
        finally:
            c.close()

    run.repeated("daemon_start_s", start)


def serve(run: Run, stream, warm) -> None:
    base, delta, root = _serving_index(run)
    if run.tracer is not None:
        _spark_probe(run, root)
    run.once("spark_stop_s", lambda: stack.stop_spark(run.spark))
    run.spark = None
    _start_daemon(run, root, warm)

    records = stack.closed_loop(run.daemon, stream,
                                run.seconds * CONCURRENT_SHARE, stack.NPROC,
                                run.tracer)
    metered = stack.metered_loop(run.daemon, stream,
                                 run.seconds * (1 - CONCURRENT_SHARE))
    for r in records + [m[0] for m in metered]:
        run.check(r.hits is not None, f"request {r.req} failed: {r.err}")
    ok = [r for r in records if r.hits is not None]
    cpu = [(r, c) for r, c in metered if r.hits is not None]
    run.metrics["p50_cpu_ms"] = median([c for _r, c in cpu]) * 1e3
    run.metrics["ops_per_cpu_s"] = len(cpu) / sum(c for _r, c in cpu)
    lat = [r.seconds for r in ok]
    cheap = [r.seconds for r in ok if r.cheap]
    q, qc = tail_percentile(len(lat)), tail_percentile(len(cheap))
    run.report["daemon_cpu"] = {
        "n": len(cpu),
        "heavy_p50_ms": median([c for r, c in cpu if not r.cheap]) * 1e3,
        "cheap_p50_ms": median([c for r, c in cpu if r.cheap]) * 1e3,
        "wall_p50_ms": median([r.seconds for r, _c in cpu]) * 1e3}
    run.report["concurrent"] = {
        "clients": stack.NPROC, "n": len(lat), "n_cheap": len(cheap),
        "p50_ms": median(lat) * 1e3,
        # a tail only where ten samples lie beyond it
        **({f"p{q}_ms": percentile(lat, q) * 1e3} if q else {}),
        **({f"cheap_p{qc}_ms": percentile(cheap, qc) * 1e3} if qc else {}),
        "ops_per_s": len(ok) / (run.seconds * CONCURRENT_SHARE)}

    from geospatial_spark.plans.serve import LocalSearcher

    ls = LocalSearcher(str(root), preload_docmaps=True)
    rng = random.Random(run.seed)
    replied = ok + [r for r, _c in cpu]
    for r in rng.sample(replied, min(CHECK_SAMPLE, len(replied))):
        run.check(r.hits == _inproc(ls, r.req), f"daemon reply {r.req}")
    c = run.daemon.client()
    try:
        _oracle_check(run, c.search, base, delta)
    finally:
        c.close()

    if run.tracer is not None:
        # the probe tail supplies any serving type the stream lacks
        sent = [(r.cheap, r.req) for r in sorted(records)]
        service = _replay_in_process(run, root, sent + _probe_stream(run))
        _daemon_layers(run, records, service)


def serve_cold_mix(run: Run) -> None:
    serve(run, gen.cold_mix_stream(run.seed, N_CONVS),
          gen.take(gen.cold_mix_stream(run.seed + 11, N_CONVS), 8))


def serve_warm(run: Run) -> None:
    # the warm-up sends every distinct request once: all later ones hit
    seen, warm = set(), []
    for cheap, req in gen.take(gen.warm_stream(run.seed), 20_000):
        key = json.dumps(req, sort_keys=True)
        if key not in seen:
            seen.add(key)
            warm.append((cheap, req))
    serve(run, gen.warm_stream(run.seed), warm)


def spark_batch(run: Run) -> None:
    from geospatial_spark.plans.query import IndexSearcher
    from geospatial_spark.plans.serve import LocalSearcher

    base, delta, root = _serving_index(run)
    searcher = run.repeated(
        "searcher_init_s", lambda: IndexSearcher(run.spark, str(root)))
    run.once("spark_calls_warmup_s", lambda: _spark_calls(
        run, searcher, gen.spark_calls(run.seed + 11, 3)))

    calls = gen.spark_calls(run.seed, 10_000)
    t0 = time.perf_counter()
    recs = _spark_calls(run, searcher, calls,
                        deadline=t0 + run.seconds)
    elapsed = time.perf_counter() - t0
    run.metrics["p50_cpu_ms"] = median([r[6] for r in recs]) * 1e3
    run.metrics["ops_per_cpu_s"] = (sum(r[2] for r in recs)
                                    / sum(r[6] for r in recs))
    run.report["calls"] = {k: sum(1 for r in recs if r[0] == k)
                           for k in QUERY_KINDS}
    run.report["calls_wall"] = {
        "p50_ms": median([r[1] for r in recs]) * 1e3,
        "queries_per_s": sum(r[2] for r in recs) / elapsed}

    ls = LocalSearcher(str(root), preload_docmaps=True)
    from geospatial_spark.plans.daemon import dispatch

    for kind, _dt, _n, arg, res, _jobs, _cpu in recs[:8]:
        if kind == "deep_k":
            run.check(_same_hits(res[:10], ls.search(arg, 10)),
                      f"deep-k prefix {arg}")
        elif kind in ("search_many", "local_batch"):
            for qid, q in arg.items():
                run.check(_same_hits(res[qid][:10], ls.search(q, 10)),
                          f"{kind} {q}")
        else:
            for qid, spec in arg.items():
                want = dispatch(ls, {**spec, "k": 10})
                run.check(_same_hits(res[qid][:10], want),
                          f"mixed {spec}")
    _oracle_check(run, lambda r: _inproc(ls, r), base, delta)

    if run.tracer is not None:
        _query_layers(run, recs)
        _serve_probe(run, root)


def dominant_layer(run: Run) -> dict:
    """Which layer the timed window spent most time in, by the trace.

    ingest: self time of the build and merge spans in the window.
    serving: the daemon's own share of the median latency (a cached
    round trip: HTTP and JSON) against serving work, which includes the
    wait for query_lock; the in-process part is split by self time.
    spark_batch: the only in-process layer is plans.query; the rest runs
    in Spark tasks, so the Spark fixed cost is estimated as jobs per
    call × a no-op job's wall."""
    lay = run.layers
    if run.workload == "ingest":
        own = self_times(run.tracer.spans[run.window[0]:run.window[1]])
        measured = max(own, key=own.get)
        basis = {k: round(v, 3) for k, v in own.items()}
    elif run.workload == "spark_batch":
        fixed = lay["query.spark_jobs_per_call"] * lay["spark.noop_job_ms"]
        measured = "plans.query"
        basis = {"spark_fixed_share_est":
                 fixed / run.report["calls_wall"]["p50_ms"]}
    else:
        # lock wait is other requests' service time, so it counts as
        # serving work; the daemon's own cost is a cached round trip
        # against the wall latency of the nproc-client phase
        p50 = run.report["concurrent"]["p50_ms"]
        share = lay["daemon.http_overhead_ms"] / p50
        in_proc = {k: lay[f"serve.self_ms.{k}"] for k in SERVE_LAYERS}
        measured = ("plans.daemon" if share > 0.5 else "in-process serving")
        basis = {"daemon_http_share_of_p50": share,
                 "lock_wait_share_of_p50":
                     lay["daemon.queue_wait_ms"] / p50,
                 "in_process_self_ms_per_request": in_proc,
                 "top_in_process_layer": max(in_proc, key=in_proc.get)}
    predicted = PREDICTED[run.workload]
    return {"predicted": predicted, "measured": measured,
            "held": predicted == measured, "basis": basis}


WORKLOADS = {"ingest": ingest, "serve_cold_mix": serve_cold_mix,
             "serve_warm": serve_warm, "spark_batch": spark_batch}
