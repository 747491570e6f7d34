"""Benchmark of the extraction job's production paths.

Run from the repository root::

    python3 perfbench/run.py --workload batch_large --seed 1 --seconds 15 --trace 0

One process, one closed-loop caller: after set-up and one untimed warm-up
call, it makes production calls back to back until ``--seconds`` of call
time have passed, checking each call's output against the oracle outside
the clock. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a separate traced pass
(``perfbench/trace.py``) with ``--trace 1``. Everything it writes stays
under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

PACKAGE = "png_from_pdf_extracter_spark"
N_SETUPS = 2  # session set-ups per untraced run; setup_s is their median
DEADLINE_S = 120  # no new timed call starts after this much run time

# name -> unit; all lower-is-better except turns_per_s
END_TO_END = {
    "turns_per_s": "1/s",
    "setup_s": "s",
    "cpu_s_per_mturn": "s",
    "peak_rss_mb": "MB",
    "output_bytes_per_input_byte": "B/B",
    "batch_p50_s": "s",
}


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def summarize(results, setups) -> dict:
    """Per-run end-to-end metrics: medians over the timed calls, the peak
    over all of them for memory."""
    med = statistics.median
    return {
        "turns_per_s": med(r.committed / r.wall_s for r in results),
        "setup_s": med(setups),
        "cpu_s_per_mturn": med(r.cpu_s / r.committed * 1e6 for r in results),
        "peak_rss_mb": max(r.peak_rss for r in results) / 2**20,
        "output_bytes_per_input_byte": med(
            r.output_bytes / r.input_bytes for r in results
        ),
        "batch_p50_s": med(r.batch_p50_s for r in results),
    }


def measure(spark, prep, work: str, seconds: float, t_start: float,
            phases: dict) -> list:
    """Warm up once, then time calls until ``seconds`` of call time."""
    from perfbench import workloads

    wh, ckpt = os.path.join(work, "wh"), os.path.join(work, "ckpt")
    t0 = time.perf_counter()
    workloads.warm_up(spark, prep, wh, ckpt)
    phases["warm_up"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    results = []
    while not results or (
        sum(r.wall_s for r in results) < seconds
        and time.perf_counter() - t_start < DEADLINE_S
    ):
        results.append(workloads.call(spark, prep, wh, ckpt))
    phases["calls"] = sum(r.wall_s for r in results)
    phases["checks"] = time.perf_counter() - t0 - phases["calls"]
    shutil.rmtree(wh, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return results


def report(wl, host, prep, results, phases, metrics: dict, units: dict) -> None:
    """Human-readable lines ahead of the JSON result."""
    checked = sum(r.checked for r in results)
    failed = sum(r.failed for r in results)
    stats = {k: v for k, v in prep.stats.items() if k != "buckets"}
    print(f"workload {wl.name} seed {prep.seed} calls {len(results)}")
    print("host " + json.dumps(host))
    print("input " + json.dumps(stats))
    print("phases_s " + json.dumps({k: round(v, 3) for k, v in phases.items()}))
    print(f"failed_turn_share {failed / checked if checked else 0.0:.6g} share")
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")


def main(argv=None) -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"{PACKAGE}/ not found under {root}: run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    args = parse_args(argv if argv is not None else sys.argv[1:])
    t_start = time.perf_counter()

    import tempfile

    from perfbench import session, workloads

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    cache = os.path.join(base, "cache")
    os.makedirs(cache, exist_ok=True)
    session.worker_env(root, work)
    tempfile.tempdir = os.path.join(work, "tmp")
    wl = workloads.WORKLOADS[args.workload]
    host = session.host_shape()
    spark = None
    phases = {}
    try:
        conf = session.session_conf(
            work, host["nproc"],
            os.path.join(work, "eventlog") if args.trace else None,
        )
        setups = []
        for i in range(1 if args.trace else N_SETUPS):
            if spark is not None:
                session.stop(spark)
            spark, dt = session.start(conf)
            setups.append(dt)
        phases["setup"] = sum(setups)
        t0 = time.perf_counter()
        prep = workloads.prepare(spark, wl, args.seed, cache)
        phases["prepare"] = time.perf_counter() - t0
        # the traced pass needs only one timed call to compare against
        seconds = 0 if args.trace else args.seconds
        results = measure(spark, prep, work, seconds, t_start, phases)
        e2e = summarize(results, setups)
        if args.trace:
            from perfbench import trace

            t0 = time.perf_counter()
            spark, metrics, problems = trace.run(
                spark, prep, work, results, host["nproc"]
            )
            phases["trace"] = time.perf_counter() - t0
            units = trace.UNITS
        else:
            metrics, problems, units = e2e, [], END_TO_END
    finally:
        if spark is not None:
            session.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["total"] = time.perf_counter() - t_start
    report(wl, host, prep, results, phases, e2e, END_TO_END)
    problems += [p for r in results for p in r.problems]
    for p in problems:
        print("problem " + p)
    failed = sum(r.failed for r in results)
    correct = failed == 0 and not problems
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": sum(r.checked for r in results),
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
