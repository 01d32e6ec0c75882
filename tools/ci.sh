#!/bin/bash
# Full local gate: compile, tests, oracle verify at two scale factors,
# bench. Mirrors what the driver runs per-round.
#
# ROUND-EXIT RULE (verdict r7 ask #2): any query whose definition changed
# since the last full check MUST get a fresh tools/check.py run at sf0.01
# before the round snapshot — the r7 doc_dsir_weights hash failure
# shipped exactly because a final-day re-plan (26c08a1/c67b4dd) was
# never re-checked. `tools/check_changed.sh [since-ref]` automates the
# subset run; this full gate covers the general case.
set -e
cd "$(dirname "$0")/.."
echo "== check.py selftest (negative-zero fixture) =="
python3 tools/check.py --selftest
echo "== compile + test =="
# reports of suites that no longer exist would linger in the table
rm -rf target/test-reports
test_status=0
# the aggregate cpu line of /proc/stat around the test phase: its steal
# column is time the hypervisor gave to other guests, so a slow table on
# a noisy host shows up as steal rather than as a regression
cpu_before=$(head -1 /proc/stat)
sbt -batch test || test_status=$?
cpu_after=$(head -1 /proc/stat)
echo "== per-suite test time =="
# one row per suite report, slowest first; failures counts errors too.
# sbt's reports of the ScalaCheck suites carry small negative times, so
# each suite's seconds are clamped at 0 before they are shown or summed
CPU_BEFORE="$cpu_before" CPU_AFTER="$cpu_after" python3 - <<'EOF'
import glob
import os
import xml.etree.ElementTree as ET

rows = []
for path in glob.glob("target/test-reports/*.xml"):
    suite = ET.parse(path).getroot()
    rows.append((suite.get("name"), int(suite.get("tests", 0)),
                 int(suite.get("failures", 0)) + int(suite.get("errors", 0)),
                 max(0.0, float(suite.get("time", 0)))))
rows.sort(key=lambda r: -r[3])
rows.append(("TOTAL", sum(r[1] for r in rows), sum(r[2] for r in rows),
             sum(r[3] for r in rows)))
width = max([len("suite")] + [len(r[0]) for r in rows])
print(f"{'suite':<{width}} {'tests':>6} {'failures':>8} {'seconds':>9}")
for name, tests, failures, seconds in rows:
    print(f"{name:<{width}} {tests:>6} {failures:>8} {seconds:>9.1f}")

# fields after "cpu": user nice system idle iowait irq softirq steal
# (guest time is already counted in user and nice)
before, after = ([int(v) for v in os.environ[k].split()[1:9]]
                 for k in ("CPU_BEFORE", "CPU_AFTER"))
delta = [a - b for a, b in zip(after, before)]
print(f"host steal: {100.0 * delta[7] / max(1, sum(delta)):.1f} % of CPU "
      "time over the test phase")
EOF
[ "$test_status" -eq 0 ] || exit "$test_status"
echo "== smoke (t1) =="
sbt -batch "runMain graft.Smoke" | grep '\[smoke\]'
echo "== verify sf0.001 =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/ci_v001" >/dev/null 2>&1 || true
python3 tools/check.py /root/testdata/sf0.001 /tmp/ci_v001 | tail -1
echo "== verify sf0.01 (driver gate) =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/ci_v01" >/dev/null 2>&1 || true
python3 tools/check.py /root/testdata/sf0.01 /tmp/ci_v01 | tail -1
echo "== bench sf0.1 =="
# benches must run alone: a bench chained straight after the 8-minute
# test phase read 25 false regressions from residual CPU/page-cache
# state (PLANS.md round-8 disposition). Let the machine settle first;
# treat any regression list from a ci-chained bench as advisory and
# re-run isolated before committing a baseline.
sleep 60
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" | grep '{"metric"'
