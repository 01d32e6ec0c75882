#!/usr/bin/env python3
"""Hot frames of a JDK Flight Recorder recording.

    python3 tools/jfr_top.py <recording.jfr> [--top N]

Reads the recording's jdk.ExecutionSample events through
`jfr print --json` (JDK 17's `jfr` has no `view` command) and prints:

  - the top leaf frames: the method a sample was executing;
  - the top inclusive frames: methods anywhere on a sample's stack,
    counted once per sample;
  - the share of samples per thread group: the thread name up to " for ",
    with every run of digits shown as "#" (so all of Spark's
    "Executor task launch worker for task 3.0 in stage 7.0 (TID 40)"
    threads are one group).

Shares are of all execution samples in the recording. Stacks are read to
64 frames, the recorder's own default limit (`jfr print` itself shows
only 5), so inclusive shares of frames deeper than that are undercounts.
"""
import argparse
import collections
import json
import re
import subprocess
import sys


def events(path):
    """The `values` of every jdk.ExecutionSample event in `path`."""
    cmd = ["jfr", "print", "--json", "--events", "jdk.ExecutionSample",
           "--stack-depth", "64", path]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    return [event["values"] for event in json.loads(out)["recording"]["events"]]


def frame_name(frame):
    method = frame["method"]
    return method["type"]["name"].replace("/", ".") + "." + method["name"]


def thread_group(values):
    thread = values.get("sampledThread") or {}
    name = thread.get("javaName") or thread.get("osName") or "?"
    return re.sub(r"\d+", "#", name.split(" for ")[0])


def table(title, label, counts, total, top):
    print(f"\n{title}")
    print(f"{'share':>7} {'samples':>8}  {label}")
    for name, n in counts.most_common(top):
        print(f"{100.0 * n / total:6.1f}% {n:8d}  {name}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=20, help="rows per table (default 20)")
    args = ap.parse_args()

    leaf = collections.Counter()
    inclusive = collections.Counter()
    groups = collections.Counter()
    total = 0
    for values in events(args.recording):
        total += 1
        groups[thread_group(values)] += 1
        frames = [frame_name(f) for f in (values.get("stackTrace") or {}).get("frames", [])]
        if frames:
            leaf[frames[0]] += 1
            inclusive.update(set(frames))
    if total == 0:
        sys.exit("no jdk.ExecutionSample events in the recording")
    print(f"{total} execution samples in {args.recording}")
    table("top leaf frames", "frame", leaf, total, args.top)
    table("top inclusive frames", "frame", inclusive, total, args.top)
    table("samples per thread group", "thread group", groups, total, args.top)


if __name__ == "__main__":
    main()
