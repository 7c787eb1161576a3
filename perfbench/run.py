"""Crawl benchmark entry point.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Builds the seeded inputs (cached under
``.bench_cache/``), starts a ``local[<cores>]`` Spark session, sets the
workload up ``SETUP_REPS`` times, runs it ``warmup`` times untimed,
then runs it until ``--seconds`` have been measured (and at least
``min_runs`` times), checks every output against the
reference digest, and prints one JSON object as the last line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the workload twice untraced
and once traced and reports the per-layer metrics instead, writing the
spans to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, session  # noqa: E402
from perfbench.trace import Tracer, layer_metrics, per_layer_names, read_event_log  # noqa: E402
from perfbench.workloads import WORKLOADS, Outcome  # noqa: E402

SETUP_REPS = 3


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def attempt(wl, outcomes: list, tracer: Tracer | None = None) -> Outcome:
    """One execution (under ``tracer`` if given), then its output digest
    outside the timed region. A raise is recorded as a failed outcome."""
    pid = os.getpid()
    cpu0 = session.tree_cpu_s(pid)
    t0 = time.perf_counter()
    with session.RssSampler(pid) as rss:
        try:
            out = tracer.traced(wl.run) if tracer else wl.run()
        except Exception:
            out = Outcome(wall_s=time.perf_counter() - t0,
                          error=traceback.format_exc(limit=3))
    out.cpu_s = session.tree_cpu_s(pid) - cpu0
    out.peak_rss_mb = rss.peak_mb
    if out.error is None:
        try:
            out.digest = wl.digest()
        except Exception:
            out.error = traceback.format_exc(limit=3)
    if tracer is not None:
        tracer.release()
    outcomes.append(out)
    return out


def check(outcomes: list, ref: dict) -> int:
    """Mark every outcome whose digest differs from the reference as
    failed; returns the number of failed outcomes (raises included)."""
    failed = 0
    for o in outcomes:
        if o.error is None and o.digest != ref:
            o.error = f"output digest {o.digest} != reference {ref}"
        if o.error is not None:
            failed += 1
            print(f"[perfbench] failed run: {o.error}", file=sys.stderr)
    return failed


def _end_to_end(outcomes, setup_s: float, failed: int) -> dict:
    med = statistics.median
    gaps = [o.round_gaps() or [o.wall_s] for o in outcomes]
    m = {
        "wall_s": (med(o.wall_s for o in outcomes), "s"),
        "urls_per_s": (med(o.units / o.wall_s for o in outcomes), "URL/s"),
        "round_p50_s": (med(g for gs in gaps for g in gs), "s"),
        # the longest interval of each execution, median over executions
        "round_max_s": (med(max(gs) for gs in gaps), "s"),
        "cpu_s": (med(o.cpu_s for o in outcomes), "CPU-s"),
        "peak_rss_mb": (med(o.peak_rss_mb for o in outcomes), "MB"),
        "setup_s": (setup_s, "s"),
        "ok_frac": (1 - failed / len(outcomes), "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    args = _parse(argv)
    t_start = time.perf_counter()
    cls = WORKLOADS[args.workload]
    path = inputs.ensure(ROOT, args.workload, args.seed)

    scratch = session.Scratch(ROOT)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.build_spark(ROOT, scratch, cls.cfg.shuffle_partitions,
                                    event_log=bool(args.trace))
        session_s = time.perf_counter() - t0
        wl = cls(spark, path, scratch.sub("work"))
        setup_s = session_s + statistics.median(
            _timed(wl.setup) for _ in range(SETUP_REPS))

        # warm-up executions are checked but not timed
        warm: list[Outcome] = []
        outcomes: list[Outcome] = []
        t0 = time.perf_counter()
        if not args.trace:
            for _ in range(wl.warmup):
                attempt(wl, warm)
            warm_s = time.perf_counter() - t0
            measured = 0.0
            while len(outcomes) < wl.min_runs or measured < args.seconds:
                measured += attempt(wl, outcomes).wall_s
        else:
            # the first execution warms the JVM; the overhead compares the
            # traced execution with the warm untraced one
            attempt(wl, warm)
            warm_s = time.perf_counter() - t0
            untraced = attempt(wl, outcomes)
            tracer = Tracer(spark, f"{args.workload}-seed{args.seed}")
            traced = attempt(wl, outcomes, tracer)
        run_s = time.perf_counter() - t0 - warm_s

        t0 = time.perf_counter()
        ref = inputs.read_reference(path)
        if ref is None:
            ref = wl.reference()
            inputs.write_reference(path, ref)
        ref_s = time.perf_counter() - t0
        failed = check(warm + outcomes, ref)

        if not args.trace:
            metrics = _end_to_end(outcomes, setup_s, failed)
        else:
            # stopping the context flushes the event log
            session.stop_spark(spark)
            spark = None
            values = layer_metrics(
                tracer, read_event_log(scratch.sub("eventlog")), session.cores(),
                traced.units, untraced.wall_s, traced.wall_s)
            metrics = {name: {"value": values[name], "unit": unit}
                       for name, unit, _ in per_layer_names()}
            tracer.write_spans(os.path.join(
                ROOT, ".bench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if spark is not None:
            session.stop_spark(spark)
        scratch.close()

    print(f"[perfbench] {args.workload} seed={args.seed} total "
          f"{time.perf_counter() - t_start:.1f}s: setup {setup_s:.1f}s, "
          f"warm-up {warm_s:.1f}s, {len(outcomes)} executions {run_s:.1f}s, "
          f"reference {ref_s:.1f}s", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(warm) + len(outcomes),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
