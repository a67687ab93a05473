#!/usr/bin/env python3
"""Benchmark of the pelinker_spark linker. Run from the repository root:

    python3 perfbench/run.py --workload batch_link --seed 1 --seconds 14 --trace 0

One Spark session per run (local[N], N = min(4, cores), 3g driver heap).
The run times the session set-up, a first unit in the fresh session, and
then a fixed number of warm units derived from --seconds, checks the
outputs outside the timed units, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. The line before it
holds the per-unit detail (unit index, wall, CPU, failed tasks), host
load and steal, medians with their tail percentile and sample count, and
the workload-specific figures.

With --trace 1 the run is traced instead: the event log is on, the first
unit is followed by a traced unit, whose calls into each layer run under
spans and job groups, and a plain unit; the metrics are the per-layer ones
(see perfbench/README.md).

All files go to a work directory inside the checkout, removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import engine, harness, procstat
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("--seconds must be at least 1", file=sys.stderr)
        return 2
    try:
        import pelinker_spark  # the program under test
    except ImportError as e:
        print(f"cannot import the linker package: {e}", file=sys.stderr)
        return 3
    if not os.path.abspath(pelinker_spark.__file__).startswith(ROOT + os.sep):
        print(f"the linker package is not this checkout's: {pelinker_spark.__file__}",
              file=sys.stderr)
        return 3

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    engine.prepare_env(work)
    eng = engine.Engine(work, event_log=bool(args.trace))
    load0, ticks0 = procstat.loadavg1(), procstat.cpu_ticks()
    t_start = time.monotonic()
    try:
        spark = eng.start()
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        t0 = time.monotonic()
        wl.prepare()
        prepare_s = time.monotonic() - t0
        if args.trace:
            from perfbench import traced

            result = traced.run(eng, wl, args.seconds)
        else:
            result = harness.run_plain(eng, wl, args.seconds)
    finally:
        t0 = time.monotonic()
        eng.stop()
        stop_s = time.monotonic() - t0
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    result["detail"].update(
        prepare_s=prepare_s, stop_s=stop_s, total_s=time.monotonic() - t_start,
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, cores=engine.cores(), driver_mem=engine.DRIVER_MEM,
        n_pages=wl.n_pages, setup_s=eng.setup_s,
        loadavg1=[load0, procstat.loadavg1()],
        steal_share=procstat.steal_share(ticks0, procstat.cpu_ticks()),
    )
    print(json.dumps(result["detail"], default=str))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
