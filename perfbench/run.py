#!/usr/bin/env python3
"""The repo benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads, metrics and bounds are listed
in BENCHMARK.json; perfbench/README.md says why each was chosen and
which layer each per-layer metric belongs to.

The last line of standard output is one JSON object: {"correct",
"attempted", "failed", "metrics"}. With --trace 0 the metrics are the
end-to-end ones, with --trace 1 the per-layer ones. The line before it
is a JSON report: environment, set-up breakdown, sample counts, tail
percentiles and, when tracing, self time per layer and the dominant
layer. Spans of a traced run are written once, at the end, to
.perfbench_out/. Exits non-zero, printing no result, when the program
under test is missing or a step raises.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
END_TO_END = ("setup_s", "p50_cpu_ms", "ops_per_cpu_s")
E2E_UNITS = {"setup_s": "s", "p50_cpu_ms": "ms", "ops_per_cpu_s": "1/s"}


def _commit() -> str:
    """git HEAD when available, else a digest of the engine sources (a
    benchmark checkout need not be a git repository)."""
    head = REPO / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (REPO / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        import hashlib

        h = hashlib.sha256()
        for p in sorted((REPO / "geospatial_spark").rglob("*.py")):
            h.update(p.read_bytes())
        return "src-sha256:" + h.hexdigest()[:16]


def _environment(seed: int) -> dict:
    import pyarrow
    import pyspark

    return {"nproc": os.cpu_count(), "load1_start": os.getloadavg()[0],
            "seed": seed, "commit": _commit(),
            "python": platform.python_version(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its daemon and Spark and removes its
    # scratch (SystemExit unwinds through the cleanup below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (REPO / "geospatial_spark").is_dir() or \
            not (REPO / "cli" / "serve.py").is_file():
        print(f"perfbench: no engine sources under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(REPO))
    from perfbench import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2

    # all scratch (indexes, Spark and Python temp files) stays under the
    # checkout and is removed on exit
    work = Path(tempfile.mkdtemp(prefix="run-",
                                 dir=_mkdir(REPO / ".perfbench_work")))
    os.environ["TMPDIR"] = str(work / "tmp")
    _mkdir(work / "tmp")
    tempfile.tempdir = None
    env = _environment(args.seed)
    ticks0 = wl.cpu_ticks()
    run = wl.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                 REPO, work)
    try:
        wl.WORKLOADS[args.workload](run)
    finally:
        try:
            run.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    env["load1_end"] = os.getloadavg()[0]
    env["cpu_steal_share"] = wl.steal_share(ticks0, wl.cpu_ticks())

    run.metrics["setup_s"] = sum(run.setup_parts.values())
    report = {"workload": args.workload, "env": env,
              "setup_parts_cpu_s": run.setup_parts,
              "setup_wall_s": sum(run.setup_wall.values()),
              "setup_parts_wall_s": run.setup_wall, **run.report}
    if run.tracer is not None:
        for k in ("p50_cpu_ms", "ops_per_cpu_s"):
            run.layers[f"traced.{k}"] = run.metrics[k]
        report["self_s"] = wl.self_times(run.tracer.spans)
        report["dominant"] = wl.dominant_layer(run)
        out = _mkdir(REPO / ".perfbench_out")
        path = out / f"trace-{args.workload}-seed{args.seed}.json"
        path.write_text(json.dumps({"report": report,
                                    "spans": run.tracer.spans}))
        report["spans_file"] = str(path.relative_to(REPO))
        names = wl.PER_LAYER
        unit = lambda n: wl.PER_LAYER[n][0]  # noqa: E731
    else:
        names, unit = END_TO_END, E2E_UNITS.get
    missing = [n for n in names if n not in (run.layers if args.trace
                                              else run.metrics)]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    values = run.layers if args.trace else run.metrics
    print(json.dumps(report, default=float))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(values[n]), "unit": unit(n)}
                    for n in names}}))
    return 0


def _mkdir(p: Path) -> Path:
    p.mkdir(parents=True, exist_ok=True)
    return p


if __name__ == "__main__":
    sys.exit(main())
