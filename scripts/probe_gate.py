"""Run a command only when the host is FAST.

This VM's effective CPU speed swings 1.6-3x on the hypervisor's schedule
(invisible to steal accounting). Benchmarks taken on a slowed host are
noise; this gate polls the single-thread spin probe (see
bench_scaling.cpu_probe) and launches the command only after two
consecutive probes under --max-probe seconds AND 1-min loadavg under
--max-load. Exits nonzero if the window never opens within --timeout.

    python scripts/probe_gate.py --max-probe 0.5 -- \
        env SPARK_GRAFT_CPUS=16 taskset -c 0-15 python bench.py --job schedule
"""
from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_scaling import cpu_probe  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--max-probe", type=float, default=0.5)
    ap.add_argument("--max-load", type=float, default=2.0)
    ap.add_argument("--timeout", type=float, default=3600.0)
    ap.add_argument("--poll", type=float, default=20.0)
    ap.add_argument("cmd", nargs=argparse.REMAINDER)
    args = ap.parse_args()
    cmd = args.cmd[1:] if args.cmd and args.cmd[0] == "--" else args.cmd
    if not cmd:
        ap.error("no command given")

    t0 = time.monotonic()
    streak = 0
    while time.monotonic() - t0 < args.timeout:
        p = cpu_probe()
        load = os.getloadavg()[0]
        ok = p <= args.max_probe and load <= args.max_load
        streak = streak + 1 if ok else 0
        print(f"[probe_gate] probe={p:.3f}s load={load:.2f} streak={streak}",
              file=sys.stderr, flush=True)
        if streak >= 2:
            rc = subprocess.call(cmd)
            sys.exit(rc)
        time.sleep(args.poll)
    print("[probe_gate] window never opened", file=sys.stderr)
    sys.exit(3)


if __name__ == "__main__":
    main()
