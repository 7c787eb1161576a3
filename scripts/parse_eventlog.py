"""Summarize a Spark event log: per-stage wall time, sorted, or a job
timeline.

Usage: python scripts/parse_eventlog.py <event-log> [top_n]
       python scripts/parse_eventlog.py --jobs <event-log>

``--jobs`` prints one line per job in submission order: its start offset
from the first job, the driver gap before it (time since the previous
job ended, during which no job ran), its duration, the tasks it ran and
its call site — where a run's wall time goes between jobs as well as
inside them. Jobs Spark starts itself (broadcasts, adaptive query
stages) have no ``callSite.short``; they show the action of the SQL
execution that started them, tagged with its root execution id, so the
jobs of one query group together.

``<app-id>`` is a single-file log or a rolling-log directory
(``eventlog_v2_<app>/events_<n>_<app>[.zstd]``, the Spark 4 default),
whose ``events_*`` files are read in index order.
"""
import argparse
import io
import json
import os
import re
import subprocess

_ROLLING = re.compile(r"^events_(\d+)_")


def log_files(path):
    """The log's files in write order: ``path`` itself, or a rolling
    log directory's ``events_<n>_*`` files by ``n``."""
    if not os.path.isdir(path):
        return [path]
    parts = [(int(m.group(1)), name) for name in os.listdir(path)
             if (m := _ROLLING.match(name))]
    return [os.path.join(path, name) for _, name in sorted(parts)]


def read_lines(path):
    """One log file's lines, decompressing ``.zstd`` files."""
    if path.endswith(".zstd"):
        try:
            import zstandard
        except ImportError:
            # the zstd CLI, when the Python binding is not installed
            yield from subprocess.run(
                ["zstd", "-dc", path], check=True, capture_output=True,
                text=True).stdout.splitlines()
            return
        with open(path, "rb") as raw, io.TextIOWrapper(
                zstandard.ZstdDecompressor().stream_reader(raw),
                encoding="utf-8") as fh:
            yield from fh
        return
    with open(path) as fh:
        yield from fh


def events(path):
    """The log's events in order; lines that are not JSON are skipped."""
    for f in log_files(path):
        for line in read_lines(f):
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                continue


def stage_summary(path):
    """Completed stages of the log at ``path``: id, name, tasks, wall."""
    stages = []
    for ev in events(path):
        if ev.get("Event") != "SparkListenerStageCompleted":
            continue
        si = ev["Stage Info"]
        sub = si.get("Submission Time")
        comp = si.get("Completion Time")
        if sub is None or comp is None:
            continue
        stages.append({
            "id": si["Stage ID"],
            "name": si["Stage Name"].split("\n")[0][:80],
            "tasks": si["Number of Tasks"],
            "wall_s": round((comp - sub) / 1000, 2),
        })
    return stages


def job_timeline(path):
    """Completed jobs of the log at ``path`` in submission order: id,
    start offset from the first job, driver gap before the job, duration
    (seconds), tasks run and call site: ``callSite.short`` when the job
    has one, else its root SQL execution's description and id, else the
    name of its last stage.

    A task counts toward the latest-started job that lists its stage: a
    stage another job already ran is skipped there and runs no tasks."""
    jobs = {}
    stage_job = {}
    sql_desc = {}
    for ev in events(path):
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            sql_desc[str(ev["executionId"])] = ev.get("description", "")
        elif kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            root = props.get("spark.sql.execution.root.id",
                             props.get("spark.sql.execution.id"))
            last = max(ev.get("Stage Infos", []), default=None,
                       key=lambda si: si["Stage ID"])
            site = props.get("callSite.short")
            if not site and root in sql_desc:
                site = f"{sql_desc[root]} [sql {root}]"
            if not site and last is not None:
                site = last["Stage Name"].split("\n")[0]
            jobs[jid] = {
                "id": jid, "submit": ev["Submission Time"], "end": None,
                "tasks": 0, "call_site": site or "",
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is not None:
                jobs[jid]["tasks"] += 1
    done = sorted((j for j in jobs.values() if j["end"] is not None),
                  key=lambda j: (j["submit"], j["id"]))
    out = []
    origin = done[0]["submit"] if done else 0
    last_end = origin
    for j in done:
        out.append({
            "id": j["id"],
            "start_s": (j["submit"] - origin) / 1000,
            "gap_s": max(0, j["submit"] - last_end) / 1000,
            "dur_s": (j["end"] - j["submit"]) / 1000,
            "tasks": j["tasks"],
            "call_site": j["call_site"],
        })
        last_end = max(last_end, j["end"])
    return out


def print_jobs(path):
    jobs = job_timeline(path)
    busy = sum(j["dur_s"] for j in jobs)
    gaps = sum(j["gap_s"] for j in jobs)
    print(f"{len(jobs)} jobs, sum-of-job-wall {busy:.2f}s, "
          f"driver gaps {gaps:.2f}s")
    print(f"  {'job':>4} {'start':>8} {'gap':>7} {'dur':>7} {'tasks':>5}"
          "  call site")
    for j in jobs:
        print(f"  {j['id']:>4} {j['start_s']:>8.2f} {j['gap_s']:>7.2f} "
              f"{j['dur_s']:>7.2f} {j['tasks']:>5}  {j['call_site']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("path", help="single-file log or rolling-log directory")
    ap.add_argument("top", nargs="?", type=int, default=30,
                    help="stages to print (stage mode)")
    ap.add_argument("--jobs", action="store_true",
                    help="print the job timeline instead of stages")
    args = ap.parse_args()
    if args.jobs:
        print_jobs(args.path)
        return
    stages = stage_summary(args.path)
    stages.sort(key=lambda s: -s["wall_s"])
    total = sum(s["wall_s"] for s in stages)
    print(f"{len(stages)} stages, sum-of-stage-wall {total:.1f}s")
    for s in stages[:args.top]:
        print(f"  stage {s['id']:>4} {s['wall_s']:>8.2f}s {s['tasks']:>5} tasks  {s['name']}")


if __name__ == "__main__":
    main()
