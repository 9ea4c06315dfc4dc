#!/usr/bin/env python3
"""Attribute the Spark jobs of an event log to the graft call sites that
launched them.

Usage: python3 tools/job_sites.py <event-log file or directory>

Input is a Spark event log: plain JSON lines, or zstd-compressed
(`.zstd` / `.zst`, read through the `zstd` command when one is installed).
In a directory every application log is reported on its own, in name
order; a rolled `eventlog_v2_*` directory is one log of its parts.

Output, per log: one row per job (id, start offset from the first job,
duration, gap since the previous job ended, the name of its result stage
and the first `graft.` frame of its call site), then a summary grouped
by that frame: jobs, summed duration plus gap, summed duration, summed
gap, sorted by the sum. Times are seconds.

Write a log with
`-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false
-Dspark.eventLog.dir=file:///tmp/ev` on the driver JVM (the directory
must exist).
"""
import json
import os
import re
import shutil
import subprocess
import sys

FRAME = re.compile(r"\bgraft\.[\w.$]+\([\w.]+:\d+\)")


def lines_of(path):
    if path.endswith((".zstd", ".zst")):
        if shutil.which("zstd") is None:
            sys.exit(f"{path}: zstd-compressed, and no zstd command found")
        out = subprocess.run(["zstd", "-dc", path], check=True,
                             capture_output=True).stdout
        return out.decode("utf-8", "replace").splitlines()
    with open(path, encoding="utf-8", errors="replace") as f:
        return f.read().splitlines()


def graft_frame(details):
    m = FRAME.search(details or "")
    return m.group(0) if m else "(no graft frame)"


def jobs_of(lines):
    """(id, submit ms, end ms, result stage name, graft frame) per job."""
    starts, ends = {}, {}
    for line in lines:
        if '"SparkListenerJob' not in line:
            continue
        e = json.loads(line)
        if e["Event"] == "SparkListenerJobStart":
            stages = e.get("Stage Infos") or [{}]
            result = max(stages, key=lambda s: s.get("Stage ID", -1))
            details = next((s.get("Details") for s in stages
                            if FRAME.search(s.get("Details") or "")), None)
            starts[e["Job ID"]] = (e["Submission Time"],
                                   result.get("Stage Name", ""),
                                   graft_frame(details))
        elif e["Event"] == "SparkListenerJobEnd":
            ends[e["Job ID"]] = e["Completion Time"]
    return [(j, s, ends.get(j, s), name, frame)
            for j, (s, name, frame) in sorted(starts.items(),
                                              key=lambda kv: kv[1][0])]


def report(path, lines):
    jobs = jobs_of(lines)
    print(f"== {path}: {len(jobs)} jobs")
    if not jobs:
        return
    t0 = jobs[0][1]
    prev_end = None
    by_frame = {}
    print(f"{'job':>6} {'offset':>9} {'dur':>8} {'gap':>8}  stage | graft frame")
    for j, start, end, name, frame in jobs:
        dur = (end - start) / 1000.0
        gap = 0.0 if prev_end is None else max(0.0, (start - prev_end) / 1000.0)
        prev_end = end if prev_end is None else max(prev_end, end)
        print(f"{j:>6} {(start - t0) / 1000.0:>9.3f} {dur:>8.3f} {gap:>8.3f}"
              f"  {name} | {frame}")
        n, d, g = by_frame.get(frame, (0, 0.0, 0.0))
        by_frame[frame] = (n + 1, d + dur, g + gap)
    print(f"\n{'jobs':>5} {'dur+gap':>9} {'dur':>8} {'gap':>8}  graft frame")
    for frame, (n, d, g) in sorted(by_frame.items(),
                                   key=lambda kv: -(kv[1][1] + kv[1][2])):
        print(f"{n:>5} {d + g:>9.3f} {d:>8.3f} {g:>8.3f}  {frame}")


def logs_under(root):
    """(name, [files]) per log: a rolled `eventlog_v2_*` directory is one
    log of its `events_<n>_*` parts in order, any other file is its own."""
    if not os.path.isdir(root):
        return [(root, [root])]
    if os.path.basename(root.rstrip("/")).startswith("eventlog_v2_"):
        parts = [f for f in os.listdir(root) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        return [(root, [os.path.join(root, f) for f in parts])]
    logs = []
    for f in sorted(os.listdir(root)):
        if not f.startswith("."):
            logs += logs_under(os.path.join(root, f))
    return logs


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    for name, files in logs_under(argv[1]):
        report(name, [line for f in files for line in lines_of(f)])


if __name__ == "__main__":
    main(sys.argv)
