#!/usr/bin/env python3
"""Per-layer profile of every workload, for committing beside the code.

    python3 perfbench/layer_profile.py [--seed N] [--seconds S]

For each workload it makes one untraced and one traced run with the same
seed, then writes perfbench/results/profile.json (end-to-end figures of
the untraced run, per-layer figures and span table of the traced run, and
the tracing overhead: traced wall_s / untraced wall_s - 1) and
perfbench/results/profile.md, a readable summary.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ["mr_corpus", "query_mix", "ann_lifecycle"]


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    lines = out.strip().splitlines()
    report = next(json.loads(l)["report"] for l in lines if l.startswith('{"report"'))
    return report, json.loads(lines[-1])


def by_name(metrics):
    return {m["name"]: m for m in metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    default=json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))["run_seconds"])
    a = ap.parse_args()
    os.makedirs(RESULTS, exist_ok=True)
    profile = {"seed": a.seed, "seconds": a.seconds, "workloads": {}}
    for wl in WORKLOADS:
        plain, plain_result = run(wl, a.seed, a.seconds, 0)
        traced, traced_result = run(wl, a.seed, a.seconds, 1)
        with open(os.path.join(HERE, "target", "traces", f"{wl}-{a.seed}.json")) as f:
            spans = json.load(f)
        e2e, layers = by_name(plain["metrics"]), by_name(traced["metrics"])
        profile["cores"] = plain["cores"]
        profile["workloads"][wl] = {
            "correct": plain_result["correct"] and traced_result["correct"],
            "attempted": plain_result["attempted"], "failed": plain_result["failed"],
            "end_to_end": plain["metrics"],
            "per_layer": [m for m in traced["metrics"] if m["name"] not in e2e],
            "traced_wall_s": layers["wall_s"]["value"],
            "tracing_overhead": layers["wall_s"]["value"] / e2e["wall_s"]["value"] - 1,
            "span_summary": spans["span_summary"],
        }
    with open(os.path.join(RESULTS, "profile.json"), "w") as f:
        json.dump(profile, f, indent=1)
        f.write("\n")
    with open(os.path.join(RESULTS, "profile.md"), "w") as f:
        f.write(summary(profile))
    print(summary(profile))


def figures(w):
    """The three figures of the ROADMAP re-anchor, from this profile."""
    q = {m["name"]: m for m in w["query_mix"]["per_layer"]}
    a = {m["name"]: m for m in w["ann_lifecycle"]["per_layer"]}
    v = lambda d, n: d[n]["value"]
    versus = lambda x, y: "exceeds" if x > y else "does not exceed"
    deser, outside, run = (v(a, "scheduler.task_deserialize_s"),
                           v(a, "scheduler.driver_outside_jobs_s"), v(a, "executor.run_s"))
    return [
        "## Re-anchor figures, measured from outside",
        "",
        f"- Construction share of query_mix op wall time: "
        f"{100 * v(q, 'queries.construct_share'):.1f} % "
        f"(re-anchor: 24 %; n = {q['queries.construct_share']['n']} queries).",
        f"- Median tasks per stage in query_mix: {v(q, 'scheduler.median_stage_tasks'):g} "
        f"over {q['scheduler.median_stage_tasks']['n']} stages; "
        f"{100 * v(q, 'scheduler.single_task_stage_ratio'):.1f} % of stages ran one task "
        f"(re-anchor: median 1.0).",
        f"- ann_lifecycle, per op: task deserialization {deser:.3f} s "
        f"({versus(deser, run)} executor run time {run:.3f} s), driver time outside jobs "
        f"{outside:.3f} s ({versus(outside, run)} it) (re-anchor: both exceed it).",
        "",
    ]


def summary(p):
    w = p["workloads"]
    out = [f"# Per-layer profile (seed {p['seed']}, --seconds {p['seconds']}, "
           f"local[{p.get('cores')}])", ""]
    out += ["Tracing overhead comes from one traced and one untraced run per workload;",
            "the ten-run spread of wall_s (results/spread.md) is wider than it, so a",
            "negative overhead is run-to-run noise.", ""]
    if "query_mix" in w and "ann_lifecycle" in w:
        out += figures(w)
    for wl, r in w.items():
        out.append(f"## {wl}: correct={r['correct']} attempted={r['attempted']} "
                   f"failed={r['failed']} tracing overhead {100 * r['tracing_overhead']:+.1f} % "
                   f"(traced wall_s {r['traced_wall_s']:.3f})")
        out.append("")
        out.append("| metric | value | unit | n |")
        out.append("| --- | --- | --- | --- |")
        for m in r["end_to_end"] + r["per_layer"]:
            out.append(f"| {m['name']} | {m['value']:.6g} | {m['unit']} | {m['n']} |")
        out.append("")
        out.append("| span | calls | total s | self s |")
        out.append("| --- | --- | --- | --- |")
        for s in r["span_summary"]:
            out.append(f"| {s['span']} | {s['calls']} | {s['total_s']:.3f} | {s['self_s']:.3f} |")
        out.append("")
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    main()
