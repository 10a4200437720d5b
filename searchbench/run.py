"""Benchmark entry point, run from the root of a checkout:

    python3 searchbench/run.py --workload interactive --seed 1 \\
        --seconds 20 --trace 0

Builds the per-checkout cache entry the workload needs (once, in child
processes, before anything is timed), runs the workload in a fresh child
process while sampling the proportional set size of that process tree,
then prints two JSON lines: a report (protocol_clean, host steal over the
timed window, how the tail was taken, the figures only this workload
measures) and, last, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports every declared end-to-end metric, ``--trace 1``
every declared per-layer one; a run that misses one fails. Everything a run writes outside the cache is removed
when it exits; every process it starts is reaped.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from searchbench.common import (  # noqa: E402 - needs the path above
    ENGINE_DIR,
    ROOT,
    WORK,
    child_env,
    median,
    tree_pss_mb,
    write_json,
)

RUN_TIMEOUT_S = 165  # everything after the cache
PSS_SAMPLE_S = 1.0
WORKLOADS = ("build", "interactive")


def declared() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def become_subreaper() -> None:
    """Orphaned grandchildren (the JVM, Python workers) are re-parented to
    this process, so it can wait for every one of them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap(pgid: int) -> None:
    """Kill what is left of a worker's process group and wait for it. By
    now the result is on disk; a graceful JVM shutdown would only spend
    seconds stopping Spark."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.monotonic() + 5
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            break
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.02)
    while True:  # orphans re-parented to this process, if any
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


def run_worker(args, trace: int, run_dir: Path, cache: str,
               deadline: float) -> tuple[dict, float]:
    """Run one workload process; return its result and the peak PSS of
    its process tree in MB."""
    env = child_env(run_dir)
    log = open(run_dir / "worker.log", "wb")
    proc = subprocess.Popen(
        [sys.executable, "-m", "searchbench.worker", args.workload,
         str(args.seed), str(args.seconds), str(trace), str(run_dir),
         cache],
        cwd=str(ROOT), env=env, stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    peak = 0.0
    try:
        while proc.poll() is None:
            if time.monotonic() > deadline:
                raise TimeoutError("workload ran past its time limit")
            peak = max(peak, tree_pss_mb(proc.pid))
            try:
                proc.wait(timeout=PSS_SAMPLE_S)
            except subprocess.TimeoutExpired:
                pass
    finally:
        reap(proc.pid)
        proc.wait()
        log.close()
    if proc.returncode != 0:
        sys.stderr.write((run_dir / "worker.log").read_text()[-4000:])
        raise RuntimeError(f"workload exited with {proc.returncode}")
    return json.loads((run_dir / "result.json").read_text()), peak


def reference_dir(workload: str) -> Path:
    from searchbench.cache import source_hash

    return WORK / "reference" / f"{workload}-{source_hash()}"


def trace_reference(workload: str) -> float | None:
    """Median per-operation time of the untraced runs of this workload
    recorded in this checkout, or None before the first one."""
    refs = [json.loads(p.read_text())["window_op_s"]
            for p in reference_dir(workload).glob("*.json")]
    return median(refs) if refs else None


def record_reference(args, res: dict) -> None:
    d = reference_dir(args.workload)
    for old in d.parent.glob(f"{args.workload}-*"):  # older sources
        if old != d:
            shutil.rmtree(old, ignore_errors=True)
    d.mkdir(parents=True, exist_ok=True)
    write_json(d / f"{args.seed}.json",
               {"window_op_s": res["notes"]["window_op_s"]})


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ENGINE_DIR / "__init__.py").is_file():
        print(f"no engine source at {ENGINE_DIR}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("--seconds must be at least 1", file=sys.stderr)
        return 2

    from searchbench import cache as cache_mod

    become_subreaper()
    # a terminated run still reaps its workers and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = WORK / "runs" / str(os.getpid())
    try:
        cache = (str(cache_mod.ensure(child_env(run_dir / "cache")))
                 if args.workload == "interactive" else "-")
        deadline = time.monotonic() + RUN_TIMEOUT_S
        res, peak = run_worker(args, args.trace, run_dir / "main", cache,
                               deadline)
        if not args.trace:
            record_reference(args, res)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e_units, layer_units = declared()
    absent = {}
    if args.trace:
        values, units = dict(res["layers"]), layer_units
        ref = trace_reference(args.workload)
        if ref is None:
            absent["harness.trace_overhead_ratio"] = (
                "no untraced run of this workload recorded in this checkout")
        else:
            values["harness.trace_overhead_ratio"] = (
                res["notes"]["window_op_s"] / ref)
    else:
        values, units = dict(res["metrics"], peak_rss_mb=peak), e2e_units
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"the workload did not measure {missing}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "protocol_clean": res["protocol_clean"],
        "host_steal_s": res["steal_s"], "window_s": res["window_s"],
        "notes": res["notes"], "absent": absent,
        # measured on this workload only, so not declared
        "more": {k: v for k, v in values.items() if k not in units},
    }
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
