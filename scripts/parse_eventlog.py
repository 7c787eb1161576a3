"""Summarize a Spark event log: per-stage wall/executor time, sorted.

Usage: python scripts/parse_eventlog.py /tmp/sparklogs/<app-id> [top_n]

``<app-id>`` is a single-file log or a rolling-log directory
(``eventlog_v2_<app>/events_<n>_<app>[.zstd]``, the Spark 4 default),
whose ``events_*`` files are read in index order.
"""
import io
import json
import os
import re
import subprocess
import sys

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


def stage_summary(path):
    """Completed stages of the log at ``path``: id, name, tasks, wall."""
    stages = []
    for f in log_files(path):
        for line in read_lines(f):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
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


def main():
    path = sys.argv[1]
    top = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    stages = stage_summary(path)
    stages.sort(key=lambda s: -s["wall_s"])
    total = sum(s["wall_s"] for s in stages)
    print(f"{len(stages)} stages, sum-of-stage-wall {total:.1f}s")
    for s in stages[:top]:
        print(f"  stage {s['id']:>4} {s['wall_s']:>8.2f}s {s['tasks']:>5} tasks  {s['name']}")


if __name__ == "__main__":
    main()
