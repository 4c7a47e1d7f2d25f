#!/usr/bin/env python3
"""Repository benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Runs one workload of BENCHMARK.json against the package in the checkout
this file sits in. It prints the run parameters on one line, then, as
the last line, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). ``--smoke`` shrinks the inputs
for a quick self-test. See perfbench/README.md for what each workload
and metric means.

Everything the run writes goes to a fresh directory under
``<checkout>/.perfbench/`` that is removed at the end, together with
``.perfbench/`` itself once it is empty. A traced run keeps its spans in
memory; ``--spans FILE`` writes them to FILE as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_mix", "queue_dispatch", "status_stream")


def _host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(tmp: str) -> dict:
    """Point the package's environment knobs at this run's directory."""
    nproc = _nproc()
    driver_mb = min(4096, _host_mem_mb() // 4)
    dirs = {k: os.path.join(tmp, k) for k in ("work", "spark-local", "tmp", "ann_index")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "PYTHONPATH": ROOT + (os.pathsep + pythonpath if pythonpath else ""),
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
            "SPARK_GRAFT_INDEX_DIR": dirs["ann_index"],
            "SPARK_LOCAL_DIRS": dirs["spark-local"],
            "TMPDIR": dirs["tmp"],
            "TZ": "UTC",
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        }
    )
    time.tzset()
    tempfile.tempdir = dirs["tmp"]
    os.chdir(dirs["work"])
    return {"nproc": nproc, "driver_mem": f"{driver_mb}m"}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for self-tests")
    ap.add_argument("--spans", help="traced runs: write the recorded spans to this file")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "nova_pulsar_spark", "__init__.py")):
        print(f"nova_pulsar_spark not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]

    state_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(state_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=state_dir)
    cwd = os.getcwd()
    try:
        env = prepare_env(tmp)
        from perfbench.workloads import run_workload

        spans = os.path.join(cwd, args.spans) if args.spans else None
        result, params = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), args.smoke, tmp, spans
        )
    finally:
        os.chdir(cwd)
        shutil.rmtree(tmp)
        try:
            os.rmdir(state_dir)
        except OSError:
            pass  # another run is using it
    params.update(env)
    print("params " + json.dumps(params, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
