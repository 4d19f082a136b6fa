"""The system under test, sized to the box: a local Spark session, the
build → delta → merge pipeline, the serving daemon as a subprocess, and
a closed-loop HTTP client."""

from __future__ import annotations

import http.client
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path
from typing import NamedTuple

from perfbench import gen

NPROC = os.cpu_count() or 1


def driver_memory() -> str:
    """Spark driver heap: a quarter of physical RAM, 1-4 GiB (the
    session default of 24g exceeds small boxes)."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        ram = 8 << 30
    return f"{max(1, min(4, ram // (4 << 30)))}g"


def start_spark(work: Path):
    """local[nproc] session whose scratch space stays under `work`."""
    from geospatial_spark.session import get_spark

    tmp = work / "spark-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return get_spark(
        "perfbench", cores=NPROC, shuffle_partitions=max(NPROC, 8),
        extra_conf={
            "spark.driver.memory": driver_memory(),
            "spark.local.dir": str(tmp),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        })


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit (its
    Python workers go with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - a dead JVM must not stop cleanup
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def to_spark(spark, pdf):
    from geospatial_spark.schemas import TRANSCRIPT_SCHEMA

    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


def ingest(spark, root: Path, base, delta) -> dict:
    """Full build at 4·nproc shards, a delta generation, then a forced
    merge to the serving shard count. Returns per-step walls and
    on-disk sizes."""
    from geospatial_spark.plans.build import build_index
    from geospatial_spark.plans.compact import merge_generations

    shutil.rmtree(root, ignore_errors=True)
    base_df, delta_df = to_spark(spark, base), to_spark(spark, delta)
    t0 = time.perf_counter()
    built = build_index(spark, base_df, str(root), n_shards=4 * NPROC)
    t1 = time.perf_counter()
    build_index(spark, delta_df, str(root), n_shards=4 * NPROC,
                generation="g0002", append=True)
    t2 = time.perf_counter()
    bytes_in = dir_bytes(root)
    merge_generations(spark, str(root), n_shards=gen.MERGED_SHARDS,
                      force=True)
    t3 = time.perf_counter()
    return {"build_manifest": built, "build_s": t1 - t0,
            "delta_s": t2 - t1, "merge_s": t3 - t2,
            "bytes_in": bytes_in, "bytes_out": live_bytes(root)}


def build_served(spark, root: Path, base, delta) -> None:
    """The serving index in one build: base and delta rows at the
    serving shard count (the shape `ingest` ends in, without paying for
    a delta and a merge in every serving run's set-up)."""
    import pandas as pd

    from geospatial_spark.plans.build import build_index

    shutil.rmtree(root, ignore_errors=True)
    both = pd.concat([base, delta], ignore_index=True)
    build_index(spark, to_spark(spark, both), str(root),
                n_shards=gen.MERGED_SHARDS)


def dir_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in Path(root).rglob("*") if p.is_file())


def live_bytes(root: Path) -> int:
    """Bytes of the generations the published manifest serves."""
    from geospatial_spark.plans import lifecycle as lc

    m = lc.read_manifest(str(root))
    return sum(dir_bytes(lc.gen_dir(str(root), g["id"]))
               for g in m["generations"])


class Daemon:
    """`cli/serve.py --port 0` in its own process (its own GIL)."""

    def __init__(self, repo: Path, index: Path, log: Path):
        self.log = open(log, "wb")
        self.proc = subprocess.Popen(
            [sys.executable, str(repo / "cli" / "serve.py"),
             "--index", str(index), "--port", "0"],
            stdout=subprocess.PIPE, stderr=self.log, cwd=str(repo))
        line = self.proc.stdout.readline()
        if not line:
            self.stop()
            raise RuntimeError(f"daemon exited before serving (see {log})")
        self.host, self.port = json.loads(line)["addr"][:2]

    def client(self) -> "Client":
        return Client(self.host, self.port)

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        if self.proc.stdout:
            self.proc.stdout.close()
        self.log.close()


class Client:
    """One keep-alive connection to the daemon."""

    def __init__(self, host: str, port: int):
        self.conn = http.client.HTTPConnection(host, port, timeout=120)

    def call(self, method: str, path: str, body=None):
        data = None if body is None else json.dumps(body).encode()
        self.conn.request(method, path, body=data,
                          headers={"Content-Type": "application/json"})
        r = self.conn.getresponse()
        payload = r.read()
        if r.status != 200:
            raise RuntimeError(f"HTTP {r.status}: {payload[:200]!r}")
        return json.loads(payload)

    def search(self, req: dict):
        return self.call("POST", "/search", req)["hits"]

    def close(self) -> None:
        self.conn.close()


class Reply(NamedTuple):
    i: int  # position in the stream
    cheap: bool
    seconds: float
    hits: list | None  # None when the request failed
    req: dict
    err: str | None


def closed_loop(daemon: Daemon, stream, seconds: float, clients: int,
                tracer=None):
    """`clients` threads, each sending its next request only when the
    previous reply is in, for `seconds`. Returns the replies."""
    it = iter(enumerate(stream))
    it_lock = threading.Lock()
    records: list[Reply] = []
    rec_lock = threading.Lock()

    def worker():
        c = daemon.client()
        mine = []
        try:
            while time.perf_counter() < deadline:
                with it_lock:
                    nxt = next(it, None)
                if nxt is None:
                    break
                i, (cheap, req) = nxt
                t0 = time.perf_counter()
                hits, err = None, None
                try:
                    if tracer is None:
                        hits = c.search(req)
                    else:
                        with tracer.span("plans.daemon", req["type"]):
                            hits = c.search(req)
                except _FAILURES as e:  # counted as a failed request
                    err = repr(e)
                    c.close()
                    c = daemon.client()
                t1 = time.perf_counter()
                mine.append(Reply(i, cheap, t1 - t0, hits, req, err))
        finally:
            c.close()
            with rec_lock:
                records.extend(mine)

    threads = [threading.Thread(target=worker) for _ in range(clients)]
    deadline = time.perf_counter() + seconds
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return records


_FAILURES = (OSError, RuntimeError, http.client.HTTPException, ValueError)


def thread_cpu_ns(pid: int) -> dict[int, int]:
    """On-CPU nanoseconds of each live thread of process `pid`, from
    /proc/<pid>/task/*/schedstat. The scheduler leaves out time the
    hypervisor stole, so these do not grow while a vCPU waits."""
    out = {}
    base = f"/proc/{pid}/task"
    for tid in os.listdir(base):
        try:
            with open(f"{base}/{tid}/schedstat") as f:
                out[int(tid)] = int(f.read().split()[0])
        except (OSError, ValueError, IndexError):
            pass  # the thread exited meanwhile
    return out


def cpu_between(before: dict[int, int], after: dict[int, int]) -> float:
    """Seconds of CPU the process's threads ran between two
    thread_cpu_ns() samples (threads started meanwhile count whole)."""
    return sum(ns - before.get(tid, 0) for tid, ns in after.items()) / 1e9


def metered_loop(daemon: Daemon, stream, seconds: float):
    """One client in closed loop for `seconds`: at most one request is
    in the daemon at a time, so the daemon's CPU time between two
    replies is the cost of the second request. Returns (reply, daemon
    CPU seconds) pairs."""
    pid = daemon.proc.pid
    c = daemon.client()
    out = []
    try:
        last = thread_cpu_ns(pid)
        deadline = time.perf_counter() + seconds
        for i, (cheap, req) in enumerate(stream):
            t0 = time.perf_counter()
            if t0 >= deadline:
                break
            hits, err = None, None
            try:
                hits = c.search(req)
            except _FAILURES as e:  # counted as a failed request
                err = repr(e)
                c.close()
                c = daemon.client()
            t1 = time.perf_counter()
            now = thread_cpu_ns(pid)
            out.append((Reply(i, cheap, t1 - t0, hits, req, err),
                        cpu_between(last, now)))
            last = now
    finally:
        c.close()
    return out
