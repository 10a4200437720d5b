"""One workload run in a fresh process: ``python3 -m searchbench.worker
<workload> <seed> <seconds> <trace> <run_dir> <cache_dir>``.

Phases: inputs from the seed; set-up (session start and the workload's
own preparation, reported as ``setup_s``); the timed window; the oracle
checks; with tracing, the single-layer probes and the event-log roll-up.
The result goes to ``<run_dir>/result.json``; run.py, which samples this
process tree's memory, prints it.
"""

from __future__ import annotations

import importlib
import os
import sys
import time
from pathlib import Path

from searchbench.common import (
    Spans,
    n_cores,
    read_steal_s,
    start_spark,
    steal_is_clean,
    timed,
    write_json,
)

class Ctx:
    def __init__(self, seed, seconds, trace, run_dir, cache):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.run_dir, self.cache = run_dir, cache
        self.attempted = self.failed = 0
        self.notes: dict = {}
        self.spark = None
        self.spans = Spans()


def main(argv: list[str]) -> None:
    name, seed, seconds, trace, run_dir, cache = argv
    wl = importlib.import_module(f"searchbench.{name}")  # run.py checked it
    ctx = Ctx(int(seed), int(seconds), trace == "1", Path(run_dir),
              Path(cache))
    t0 = time.perf_counter()
    st = wl.prepare(ctx)  # the seed's inputs; not part of set-up
    t_setup = time.perf_counter()
    with timed() as t_session:
        ctx.spark = start_spark(ctx.run_dir, event_log=ctx.trace)
    if ctx.trace:
        ctx.spans = Spans(ctx.spark.sparkContext)
    wl.setup(ctx, st)
    setup_s = time.perf_counter() - t_setup

    steal0, w0 = read_steal_s(), time.perf_counter()
    wl.window(ctx, st)
    window_s = time.perf_counter() - w0
    steal_s = read_steal_s() - steal0

    t_check = time.perf_counter()
    wl.check(ctx, st)
    check_s = time.perf_counter() - t_check
    metrics = {"setup_s": setup_s}
    metrics.update(wl.metrics(ctx, st))
    layers = {}
    if ctx.trace:
        layers = {"session.start_s": t_session[0]}
        layers.update(wl.layers(ctx, st))
    ctx.notes["phases_s"] = {
        "inputs": t_setup - t0, "session": t_session[0], "setup": setup_s,
        "window": window_s, "check": check_s}
    if ctx.trace:
        from searchbench import trace

        ctx.spark.stop()  # flushes the event log
        spans = ctx.spans.records
        per_span = trace.rollup(
            trace.read_events(ctx.run_dir / "eventlog"), spans)
        layers.update(wl.rollup_metrics(st, spans, per_span))
    write_json(ctx.run_dir / "result.json", {
        "attempted": ctx.attempted, "failed": ctx.failed,
        "metrics": metrics, "layers": layers, "notes": ctx.notes,
        "window_s": window_s, "steal_s": steal_s,
        "protocol_clean": steal_is_clean(steal_s, window_s, n_cores()),
    })
    # run.py stops the JVM and its workers; a graceful stop takes seconds
    # and measures nothing
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main(sys.argv[1:])
