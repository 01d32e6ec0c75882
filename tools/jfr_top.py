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
    threads are one group);
  - the jdk.ProcessStart events (child processes the JVM forked, such as
    the `ls -ld` Hadoop's local filesystem runs per file to read a
    permission when its native library is not loaded), counted by
    command, with every argument that holds a "/" shown as <path>, and
    by the first `graft.` frame on the event's stack. JDK 17's `default`
    and `profile` settings both record them with stacks.

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


SAMPLE = "jdk.ExecutionSample"
PROCESS_START = "jdk.ProcessStart"


def events(path):
    """(type, values) of every execution sample and process start in `path`."""
    cmd = ["jfr", "print", "--json", "--events", f"{SAMPLE},{PROCESS_START}",
           "--stack-depth", "64", path]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    return [(event["type"], event["values"])
            for event in json.loads(out)["recording"]["events"]]


def frame_name(frame):
    method = frame["method"]
    return method["type"]["name"].replace("/", ".") + "." + method["name"]


def thread_group(values):
    thread = values.get("sampledThread") or {}
    name = thread.get("javaName") or thread.get("osName") or "?"
    return re.sub(r"\d+", "#", name.split(" for ")[0])


def command_shape(command):
    """`command` with every argument that holds a "/" shown as <path>."""
    words = (command or "?").split()
    return " ".join(words[:1] + ["<path>" if "/" in w else w for w in words[1:]])


def table(title, label, counts, total, top, unit="samples"):
    print(f"\n{title}")
    print(f"{'share':>7} {unit:>8}  {label}")
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
    commands = collections.Counter()
    callers = collections.Counter()
    total = 0
    for kind, values in events(args.recording):
        frames = [frame_name(f) for f in (values.get("stackTrace") or {}).get("frames", [])]
        if kind == PROCESS_START:
            commands[command_shape(values.get("command"))] += 1
            callers[next((f for f in frames if f.startswith("graft.")), "(no graft. frame)")] += 1
            continue
        total += 1
        groups[thread_group(values)] += 1
        if frames:
            leaf[frames[0]] += 1
            inclusive.update(set(frames))
    if total == 0:
        sys.exit("no jdk.ExecutionSample events in the recording")
    print(f"{total} execution samples in {args.recording}")
    table("top leaf frames", "frame", leaf, total, args.top)
    table("top inclusive frames", "frame", inclusive, total, args.top)
    table("samples per thread group", "thread group", groups, total, args.top)
    starts = sum(commands.values())
    print(f"\n{starts} process starts")
    if starts:
        table("process starts by command", "command", commands, starts, args.top, "starts")
        table("process starts by first graft. frame", "frame", callers, starts, args.top, "starts")


if __name__ == "__main__":
    main()
