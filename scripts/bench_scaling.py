"""Two-parallelism scaling evidence for the north rule (BASELINE.json).

The rule requires throughput scaling efficiency >= 0.8 from N to 4N
executors; no real cluster exists in this sandbox, so (per BASELINE.md)
the proxy runs the engine at local[N] vs local[4N] on identical input in
fresh subprocesses. Two jobs are measured:

* ``round`` — one FULL engine round (canonicalize → dedup → seen
  anti-join → politeness schedule → fetch join → mapInPandas
  extraction): the representative per-round workload. Extraction is the
  compute-dense stage that dominates real crawl rounds, and it scales
  with cores; this is the headline scaling-efficiency number.
* ``schedule`` — the shuffle core alone (no fetch/extract). Note the
  box's aggregate DRAM bandwidth itself scales ~linearly to 16 streaming
  threads (measured 6.3 -> 92.6 GB/s, eff 0.92), so bandwidth is NOT the
  wall; the residual inefficiency is fixed per-round driver/barrier cost
  and stage tails, attacked by shrinking those costs, not by excusing
  them.

Default levels are local[4] → local[16] on this 32-core box: a cluster's
N→4N adds whole NODES (each executor keeps its own bandwidth), whereas
local[32] would saturate the single box's memory bus and benchmark the
bus, not the engine (measured: local[16] beats local[32] absolutely).

The host also shows intermittent EXTERNAL load (bursts of 7-12 busy
cores slow identical runs up to 6×), so: levels are interleaved, ambient
load is recorded per run, ``--quiet-load`` waits for a quiet window, and
bests merge across the recorded history (BENCH/history.json) of this
deterministic job.

Usage: python scripts/bench_scaling.py [--n-urls N] [--runs K]
       [--quiet-load L] [--jobs round,schedule]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# first line of the hand-written BENCH/BASELINE.md addendum that report
# regeneration keeps verbatim
ADDENDUM_SENTINEL = (
    "<!-- ADDENDUM: preserved verbatim by scripts/bench_scaling.py report")

"""Job sizes: large enough that per-run fixed costs (driver planning,
catalog ops, broadcast builds, stage scheduling — fitted f ≈ 12-14 s,
verified constant from 0.5M to 32M by the t = f + w/cores model) are
small against the scan/shuffle work at BOTH levels; the north rule
describes a 10^10-row frontier, so the asymptotic regime is the honest
one. 64M was tried and REVERTED: at c16 the per-URL rate drops ~20%
(sustained memory-subsystem pressure on this one box, and 3-minute runs
can no longer fit inside one fast-host window) — beyond 32M the bench
measures the box, not the engine."""
JOB_N_DEFAULT = {"round": 6_000_000, "schedule": 32_000_000}
JOB_LABEL = {
    "round": "URLs through a full crawl round / sec",
    "schedule": "URLs scheduled+deduped / sec (shuffle core)",
}


def wait_for_quiet(max_load: float, timeout_s: int = 900) -> float:
    """Block until the 1-min load average drops below ``max_load`` (or
    the timeout passes)."""
    t0 = time.monotonic()
    load = os.getloadavg()[0]
    while load > max_load and time.monotonic() - t0 < timeout_s:
        time.sleep(15)
        load = os.getloadavg()[0]
    return load


def read_cpu_stat() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def cpu_probe() -> float:
    """Seconds for a fixed single-thread spin — a direct measure of the
    host's CURRENT effective CPU speed. This VM's speed swings 1.6-3×
    (hypervisor frequency/co-tenant effects invisible to steal
    accounting); the probe lets stats exclude runs taken on a slowed
    host."""
    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i
    return round(time.perf_counter() - t0, 4)


_MEM_BUF = None


def mem_probe() -> float:
    """GB/s for a single-thread streaming read of a 128 MB buffer (looped
    to ~1 GB of traffic). The spin probe is a register-only ALU loop —
    it sees hypervisor FREQUENCY changes but is blind to co-tenant
    MEMORY-BANDWIDTH contention, which is exactly the resource the
    16-core shuffle stages saturate; identical runs can differ 30%+ in
    wall time with identical spin probes. This probe reads DRAM, so
    contention shows up directly."""
    global _MEM_BUF
    import numpy as np
    if _MEM_BUF is None:
        _MEM_BUF = np.ones((128 << 20) // 8, dtype=np.float64)
    t0 = time.perf_counter()
    for _ in range(8):
        float(_MEM_BUF.sum())
    dt = time.perf_counter() - t0
    return round(8 * _MEM_BUF.nbytes / dt / 1e9, 2)


class ProbeSampler:
    """Samples cpu_probe (and, every other tick, mem_probe) every few
    seconds ON CORES OUTSIDE the measured set (28-31) for the duration of
    a run — host slowdowns hit all cores, so this tracks hypervisor speed
    DURING the run without perturbing the pinned benchmark. The
    bandwidth samples read ~1 GB every ~8 s (~1% of box bandwidth,
    identical overhead at every level). probe_sec / membw median of
    samples."""

    def __init__(self, cores=(28, 29, 30, 31), interval_s: float = 4.0):
        import threading
        self.samples: list[float] = []
        self.bw_samples: list[float] = []
        self._stop = threading.Event()

        def loop():
            try:
                os.sched_setaffinity(0, set(cores))
            except OSError:
                pass
            tick = 0
            while not self._stop.is_set():
                self.samples.append(cpu_probe())
                if tick % 2 == 1:
                    try:
                        self.bw_samples.append(mem_probe())
                    except Exception:
                        pass
                tick += 1
                self._stop.wait(interval_s)

        self._t = threading.Thread(target=loop, daemon=True)
        self._t.start()

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=10)
        s = sorted(self.samples) or [0.0]
        return round(s[len(s) // 2], 4)

    def membw(self) -> float:
        s = sorted(self.bw_samples) or [0.0]
        return round(s[len(s) // 2], 2)


def wait_for_fast_host(max_probe: float, timeout_s: float = 1800.0,
                       poll_s: float = 20.0) -> None:
    """Block until two consecutive spin probes land under ``max_probe``
    (the host is in a fast window) or the timeout passes — runs started
    on a slowed host are excluded by the stats gates anyway, so waiting
    is cheaper than measuring garbage."""
    t0 = time.monotonic()
    streak = 0
    while time.monotonic() - t0 < timeout_s:
        if cpu_probe() <= max_probe:
            streak += 1
            if streak >= 2:
                return
        else:
            streak = 0
        time.sleep(poll_s)


def run_once(job: str, cpus: int, n_urls: int,
             quiet_load: float | None = None,
             max_probe: float | None = None,
             job_reps: int = 1) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    if quiet_load is not None:
        wait_for_quiet(quiet_load)
    if max_probe is not None:
        wait_for_fast_host(max_probe)
    load_before = os.getloadavg()[0]
    # ambient bandwidth before the run starts (own job not yet running):
    # co-tenant DRAM pressure that the spin probe cannot see. The
    # during-run membw_gbps also includes our own traffic (more at 16
    # cores than at 4), so only THIS number is comparable across levels.
    try:
        membw_before = mem_probe()
    except Exception:
        membw_before = 0.0
    sampler = ProbeSampler()
    steal0, total0 = read_cpu_stat()
    # pin the JVM to exactly `cpus` physical cores: external load then
    # lands (mostly) on the remaining cores instead of randomly stealing
    # from the measured set, and GC/python workers see the same core
    # budget a real cpus-core executor would
    pin = ["taskset", "-c", f"0-{cpus - 1}"]
    out = subprocess.run(
        pin + [sys.executable, os.path.join(REPO, "bench.py"), "--job", job,
               "--n-urls", str(n_urls), "--reps", str(job_reps)],
        env=env, capture_output=True, text=True, check=True, cwd=REPO,
    )
    line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    rec = json.loads(line)
    rec["job"] = job
    rec["wg"] = WORKLOAD_REV
    rec["loadavg_before"] = round(load_before, 2)
    rec["pinned"] = True
    # hypervisor steal during the run: this box is a VM sharing physical
    # cores with co-tenants; bursts of steal slow identical runs up to
    # 2.5×. Runs above the steal threshold are excluded from stats.
    steal1, total1 = read_cpu_stat()
    dt = max(1, total1 - total0)
    rec["steal_pct"] = round(100.0 * (steal1 - steal0) / dt, 2)
    # median of during-run samples taken on cores outside the measured set
    rec["probe_sec"] = sampler.stop()
    rec["probe_n"] = len(sampler.samples)
    rec["membw_gbps"] = sampler.membw()
    rec["membw_before"] = membw_before
    return rec


def load_history() -> list[dict]:
    path = os.path.join(REPO, "BENCH", "history.json")
    if os.path.exists(path):
        with open(path) as f:
            hist = json.load(f)
        for r in hist:          # records predate the job field → schedule
            r.setdefault("job", "schedule")
        return hist
    return []


def save_history(history: list[dict]) -> None:
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "history.json"), "w") as f:
        json.dump(history, f, indent=1)


WORKLOAD_REV = 15    # bump when the measured work graph changes (r3:
                     # window-strategy frontier dedup; r4: bucket-sorted
                     # snapshot + presalted rank, pre-join-aligned fetch
                     # join, level-independent input partitioning; r5:
                     # 64 snapshot buckets — with the in-bucket sort the
                     # 256-bucket granularity only bought scheduling
                     # latency; r6: depth-major in-bucket sort + the
                     # deferral-composable rank join on (host, depth,
                     # _salt), provenance-checked _kh; r7: plain-scan
                     # rank counts + post-dedup host — the counts half
                     # measured slower in the assembled pipeline; r8:
                     # host stays late, counts back to the bucketed
                     # scan; r9: warmup now exercises the measured
                     # host-stage branch (ADVICE r04 fix) — pre-fix runs
                     # carried late-branch first-use setup inside the
                     # timed region, so their sec is not comparable;
                     # r10: the jobs run the engine's own pipeline,
                     # engine.links_to_frontier — aggregate dedup, no
                     # host-stage switch, the engine's bucket count and
                     # salt width; r11: assign_dense_seq runs its input
                     # once, and the jobs size partitions per round with
                     # round_partitions; r12: past large_seen_threshold
                     # the batch keys probe the seen scan, no bloom;
                     # r13: the round job runs the engine's fetch join,
                     # engine.fetch_pages — the store exchange and the
                     # outcome columns are inside the timed region;
                     # r14: links_to_frontier takes host natively from
                     # canon_url, and the rank joins the host policy
                     # after ranking; r15: the synthetic links, seen set
                     # and store are canonicalized by the engine's split
                     # url_pass, which plans no Python stage on these
                     # all-eligible URLs, instead of the nulled
                     # canonicalize_frame, which sent every row through
                     # Python as a null)
                     # — stats pool only same-rev runs; cross-rev
                     # medians would mix different engines/timed regions
PROBE_SLACK = 1.15   # keep runs within 15% of the fastest observed host speed
STEAL_MAX = 1.5      # % hypervisor steal during the run — above this the
                     # co-tenant, not the engine, set the wall time


def runs_for(history: list[dict], job: str, cpus: int, n_urls: int) -> list[dict]:
    """Only core-pinned runs with a CPU-speed probe are comparable (older
    records used the pre-snapshot bench code — different work graph).
    Two uniform interference gates, applied identically at every level:
    runs probed on a slowed host (> PROBE_SLACK × the fastest probe in
    the history) and runs with > STEAL_MAX % hypervisor steal are
    excluded — those slowdowns are the host's, not the engine's."""
    runs = [r for r in history
            if r.get("job") == job and r["cpus"] == cpus
            and r["n_urls"] == n_urls and r.get("pinned")
            and r.get("wg") == WORKLOAD_REV]
    probed = [r for r in runs if "probe_sec" in r]
    if not probed:
        return runs
    best_probe = min(r["probe_sec"] for r in probed)
    clean = [r for r in probed
             if r["probe_sec"] <= best_probe * PROBE_SLACK
             and r.get("steal_pct", 0.0) <= STEAL_MAX]
    return clean or probed


def stats_for(history: list[dict], job: str, cpus: int, n_urls: int) -> dict | None:
    runs = sorted(r["urls_per_sec"] for r in runs_for(history, job, cpus, n_urls))
    if not runs:
        return None
    k = len(runs)
    med = runs[k // 2] if k % 2 else (runs[k // 2 - 1] + runs[k // 2]) / 2
    q1, q3 = runs[k // 4], runs[(3 * k) // 4 if (3 * k) // 4 < k else k - 1]
    mean = sum(runs) / k
    sd = (sum((x - mean) ** 2 for x in runs) / (k - 1)) ** 0.5 if k > 1 else 0.0
    return {"n": k, "median": round(med, 1), "iqr": (round(q1, 1), round(q3, 1)),
            "best": round(runs[-1], 1), "cv_pct": round(100 * sd / mean, 1)}


PAIR_PROBE_TOL = 0.08   # max relative probe_sec mismatch within a pair


def paired_efficiency(history: list[dict], job: str, n_urls: int,
                      low: int, high: int) -> dict | None:
    """Probe-matched pair estimator for scaling efficiency.

    Efficiency is a RATIO, so the host's absolute speed cancels whenever
    the low- and high-parallelism runs executed at the SAME host speed —
    which the during-run probe measures directly. The per-level median
    tables gate each level against its own fastest probe, which can
    leave the two levels gated at different host speeds (e.g. every c4
    run taken in a fast window, every c16 run in a slow one) and bias
    the ratio. Here: every (low, high) run pair whose during-run probe
    medians agree within PAIR_PROBE_TOL and whose steal is under
    STEAL_MAX yields one efficiency sample; the median over pairs is
    robust to the hypervisor's schedule in a way no single-level gate
    can be."""
    def gated(cpus):
        return [r for r in history
                if r.get("job") == job and r["cpus"] == cpus
                and r["n_urls"] == n_urls and r.get("pinned")
                and r.get("wg") == WORKLOAD_REV and "probe_sec" in r
                and r.get("steal_pct", 0.0) <= STEAL_MAX]

    lows, highs = gated(low), gated(high)
    effs = []
    for lo in lows:
        for hi in highs:
            pmin = min(lo["probe_sec"], hi["probe_sec"])
            if pmin <= 0:
                continue
            if abs(lo["probe_sec"] - hi["probe_sec"]) / pmin <= PAIR_PROBE_TOL:
                effs.append(
                    (hi["urls_per_sec"] / lo["urls_per_sec"]) / (high / low))
    if not effs:
        return None
    effs.sort()
    k = len(effs)
    med = effs[k // 2] if k % 2 else (effs[k // 2 - 1] + effs[k // 2]) / 2
    return {"n_pairs": k, "median": round(med, 3),
            "iqr": (round(effs[k // 4], 3),
                    round(effs[(3 * k) // 4 if (3 * k) // 4 < k else k - 1], 3)),
            "best": round(effs[-1], 3)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-urls", type=int, default=None,
                    help="override per-job default input size")
    ap.add_argument("--runs", type=int, default=2, help="rounds per job+level")
    ap.add_argument("--low", type=int, default=4)
    ap.add_argument("--high", type=int, default=16)
    ap.add_argument("--jobs", default="round,schedule")
    ap.add_argument("--quiet-load", type=float, default=None)
    ap.add_argument("--max-probe", type=float, default=None,
                    help="wait for a fast-host window before each run")
    ap.add_argument("--job-reps", type=int, default=1,
                    help="same-JVM repetitions inside each bench run; "
                         "the run's sec is the fastest rep")
    args = ap.parse_args()
    jobs = [j.strip() for j in args.jobs.split(",") if j.strip()]

    history = load_history()
    for i in range(args.runs):
        for job in jobs:
            n = args.n_urls or JOB_N_DEFAULT[job]
            for cpus in (args.low, args.high):
                rec = run_once(job, cpus, n, quiet_load=args.quiet_load,
                               max_probe=args.max_probe,
                               job_reps=args.job_reps)
                history.append(rec)
                save_history(history)
                print(f"round {i+1} {job}: local[{cpus}] "
                      f"{rec['urls_per_sec']:.0f} urls/s ({rec['sec']:.2f}s, "
                      f"load {rec['loadavg_before']})", file=sys.stderr)

    # report: per job, MEDIAN across pinned runs at that (level, n) —
    # the headline number; best + IQR disclosed for dispersion
    sections, summary = [], {}
    for job in ("round", "schedule"):
        n = args.n_urls or JOB_N_DEFAULT[job]
        lo = stats_for(history, job, args.low, n)
        hi = stats_for(history, job, args.high, n)
        if not lo or not hi:
            continue
        speedup = hi["median"] / lo["median"]
        eff = speedup / (args.high / args.low)
        best_speedup = hi["best"] / lo["best"]
        best_eff = best_speedup / (args.high / args.low)
        paired = paired_efficiency(history, job, n, args.low, args.high)
        summary[job] = {
            "low_urls_per_sec": lo["median"],
            "high_urls_per_sec": hi["median"],
            "speedup": round(speedup, 3),
            "scaling_efficiency": round(eff, 3),
            "best_efficiency": round(best_eff, 3),
            "paired_efficiency": paired,
            "low": lo, "high": hi,
        }
        if paired:
            paired_line = (
                f"**Probe-matched paired efficiency (host speed cancels "
                f"within each pair): median {paired['median']:.3f}** over "
                f"{paired['n_pairs']} pairs (IQR "
                f"{paired['iqr'][0]:.3f}\u2013{paired['iqr'][1]:.3f}, best "
                f"{paired['best']:.3f})")
        else:
            paired_line = ""
        sections.append(f"""## {job} job — {JOB_LABEL[job]}

Input: {n:,} synthetic URLs, Zipf(1)-skewed over 10,000 hosts; identical
input and shuffle partitioning (64) at both levels; JVM pinned to
exactly N cores via taskset. Median across pinned runs (IQR and best
disclosed).

| parallelism | median {JOB_LABEL[job]} | IQR | best | CV | runs |
|---|---|---|---|---|---|
| local[{args.low}] | {lo['median']:,.0f} | {lo['iqr'][0]:,.0f}–{lo['iqr'][1]:,.0f} | {lo['best']:,.0f} | {lo.get('cv_pct', 0):.1f}% | {lo['n']} |
| local[{args.high}] | {hi['median']:,.0f} | {hi['iqr'][0]:,.0f}–{hi['iqr'][1]:,.0f} | {hi['best']:,.0f} | {hi.get('cv_pct', 0):.1f}% | {hi['n']} |

**Median speedup {args.low}→{args.high} cores (4× cores): {speedup:.2f}× —
scaling efficiency {eff:.3f}** (best-vs-best: {best_speedup:.2f}×, {best_eff:.3f})
{paired_line}
""")

    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    # a hand-written addendum block at the end of the report
    # (post-campaign analysis that must not be lost) survives
    # regeneration verbatim; it starts at the full sentinel line
    addendum = ""
    if os.path.exists(path):
        with open(path) as f:
            prev = f.read().splitlines(keepends=True)
        for i, line in enumerate(prev):
            if line.rstrip("\n") == ADDENDUM_SENTINEL:
                addendum = "\n" + "".join(prev[i:])
                break
    with open(path, "w") as f:
        f.write(f"""# BENCH — two-parallelism scaling evidence (north rule)

Proxy for N→4N executors (no cluster in this sandbox): the engine's
per-round pipeline at `local[{args.low}]` vs `local[{args.high}]`, fresh
JVM per run, pinned to exactly N cores via taskset, levels interleaved.

**Measurement methodology.** This box is a VM whose effective CPU speed
swings 1.6-3× on the hypervisor's schedule (invisible to steal
accounting — a fixed single-thread spin probe varies 0.60-0.98 s at
idle). Every run therefore records the spin probe before and after;
stats keep only runs probed within {int((PROBE_SLACK - 1) * 100)}% of
the fastest observed host speed, and report the MEDIAN over those clean
runs (IQR and best disclosed; raw runs in `BENCH/history.json`).
local[{args.high}] (= half the physical cores) rather than local[32]:
a cluster's 4N adds whole nodes with their own memory and OS resources,
while 32 threads on this box contend for shared JVM/kernel structures
(measured: local[16] outruns local[32] absolutely). Shuffle/spill dirs
and round snapshots live on tmpfs — the single virtual disk is not a
resource a real cluster shares, and executors bring their own storage.

The **round job** — one full engine round: the engine's link-to-frontier
step (`engine.links_to_frontier`: single-scan hybrid canonicalization,
JVM-native fast path + exact pandas-UDF fallback → map-side-combining
first-occurrence dedup → exact anti-join vs the URL-seen set (past
`large_seen_threshold` the batch keys probe the seen scan map-side) →
dense discovery_seq →
post-dedup host) → **bucket-sorted round
snapshot** (repartition on (host, seq-salt) feeding a plain sorted
parquet write, one file per bucket; each part file is renamed to carry
its bucket id and one `CREATE TABLE ... CLUSTERED BY ... SORTED BY`
registers the layout — the rank's exchange+sort moved into write-side
work that scales) → presalted politeness rank (zero payload
exchange, zero sort, no driver stats barrier over the layout-bearing
scan) → fetch join vs the content store with the html-free admitted
side pre-aligned to the store's hash partitioning (extraction fuses
into the join stage; no post-join exchange of page bytes) → Arrow
mapInPandas extraction (X1–X8). This is the headline scaling number:
extraction is the compute-dense stage that dominates real crawl rounds
and scales with cores. The **schedule job** (shuffle core + snapshot +
rank, no fetch/extract) is disclosed separately. Each recorded run's
``sec`` is the fastest of its same-JVM repetitions (all reps + spin
probes disclosed in history.json) — back-to-back identical reps differ
up to 1.7× on this host, so the min is the engine's time, the spread is
the hypervisor's. The input frontier's partition count is pinned
(64) so every level scans the identical layout.

{chr(10).join(sections)}

## Stage-isolated scaling (contention-controlled measurement)

End-to-end wall numbers above are depressed by the host's external load
(most recorded runs started at ambient load 2-11 of 32 cores; see
history.json). With the box verified idle, the engine's stages measure:

| stage | local[4] | local[16] | speedup | efficiency |
|---|---|---|---|---|
| Arrow mapInPandas extraction (X1–X8), 1M pages | 27,909 pages/s | 92,574 pages/s | 3.32× | **0.83** |
| canon→dedup→anti-join core, 32M URLs, agg dedup | 111.6 s | 46.0 s | 2.43× | 0.61 |
| canon→dedup→anti-join core, 32M URLs, window dedup (rev 3–9) | 116.6 s | 34.4 s | 3.39× | **0.85** |
| core→bucket-sorted snapshot (round job p1), 6M URLs, warm | 26.4 s | 8.0 s | 3.32× | **0.83** |

Five physical-shape decisions moved the end-to-end jobs from
eff ≈0.5–0.6 (round 1) upward, each measured with in-JVM alternating
A/Bs (host drift cancels pair-wise):

1. **Window-strategy dedup** (rev 3–9) for the unique-heavy frontier:
   the agg's map-side sort collapses nothing there and burns a second
   full pass whose cost grows with concurrency — trades ~4% at 4 cores
   for 25% at 16 (A/B script in commit 19c7ad8,
   scripts/exp_dedup_strategy.py). Rev 10 runs the engine's aggregate
   dedup instead: the engine's link batches carry duplicates.
2. **Bucket-sorted round snapshot + presalted rank**: the adaptive
   rank over a flat snapshot measured FLAT across cores (9.6 s at c4 →
   9.2 s at c16 on 5.3M rows — driver stats collect, exchange and sort
   are fixed-ish latency). Writing the snapshot repartitioned on
   (host, seq-salt) and sorted within each partition (one file per
   bucket, renamed to carry its bucket id, then registered with one
   `CREATE TABLE`) makes the rank exchange-free and sort-free; the
   moved work rides the
   write, which scales (A/B scripts in commit 39ef1e8,
   scripts/exp_bucketed_phases.py and exp_round_phases.py).
3. **Pre-join alignment of the fetch join**: repartitioning the
   html-free admitted side on canon_url before joining the
   pre-partitioned store (instead of round-robin repartitioning the
   joined html-bearing rows) removes a full exchange of page bytes —
   9–13% of the fetch+extract phase at c16, neutral at c4
   (A/B script in commit 39ef1e8, scripts/exp_fetch_join.py).
4. **Post-dedup host extraction** (rev 7): host is a pure function of
   the URL, so computing it AFTER the dedup exchange + seen anti-join
   keeps ~18B/row of host strings out of the job's largest shuffle and
   only runs the extraction regex on surviving rows — late/early
   median 0.91 over 8 in-JVM pairs at c16 vs 0.96 at c4
   (A/B script in commit ec1bc1b, scripts/exp_host_late.py), confirmed
   by the 2×2 matrix (commit 2ee2c90, scripts/exp_sched_matrix.py): it
   pays most exactly where shuffle bandwidth is the contended resource.
   The engine ships the same shape (engine.py drops host+path before
   the expansion dedup and `links_to_frontier` recomputes host with
   `host_frame`, now natively from `canon_url`); since rev 10 the bench
   runs that function.
5. **A documented negative** (rev 8): serving the rank's bucket counts
   from a plain column-pruned re-read of the snapshot (instead of the
   one-task-per-bucket bucketed scan) looked attractive from event-log
   stage attribution but measured SLOWER end-to-end at BOTH levels in
   the in-JVM 2×2 matrix (c4 median 110.7 s bucketed vs 115.4 s plain;
   c16 31.7 vs 32.4 — commit 2ee2c90, scripts/exp_sched_matrix.py).
   The re-scan + aggregate exchange costs what the per-bucket reader
   setup costs; the exchange-free bucketed plan stays. Isolated-stage
   attribution proposes, assembled-pipeline A/B disposes.

The lesson generalizes to the 100 TB cluster: these are exactly the
layout decisions an Iceberg frontier table (bucket-sorted on
host-hash/seq-range) and a bucketed content store give for free — the
bench proves the plan shapes, the engine ships them
(engine.py's bucket-sorted frontier snapshots and fetch join).
""")
        f.write(addendum)
    print(json.dumps({"jobs": summary, "report": path}))


if __name__ == "__main__":
    main()
