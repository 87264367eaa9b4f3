"""Fast self-test of the benchmark itself.

    python3 perfbench/selftest.py [--scale 0.2]

Runs every workload briefly on small inputs, untraced and traced, and checks
that each prints a passing result with exactly the metrics ``BENCHMARK.json``
names. Then it checks that the output check is not vacuous: a run that
drops one row of a refreshed table before the check must report a failure
for that table, and a silver-mix run that drops one row of a registered
query's result and of a silver read's must report a failure for each.
Then it checks that the benchmark exits non-zero without a result in a
directory holding only ``BENCHMARK.json`` and the benchmark's own files.
Last, it checks that no run left a process running after it exited.
Exits 0 when every check passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# what --corrupt damages, per workload: the refreshed fact_sales table, and in
# the silver mix also run.py's CORRUPT_OPS
CORRUPTED = {
    "medallion_refresh": {"fact_sales"},
    "silver_query_mix": {"fact_sales", "q1_pricing_summary", "silver_sales_by_segment_category"},
}
LEAKS: list[str] = []  # runs that exited with a process of theirs still running


def _left_running(sid: int) -> list[int]:
    """Processes of session ``sid``, zombies too: a child that its parent
    did not wait for is left behind as well."""
    out = []
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            out.append(int(d))
    return out


def _run(cwd: str, *args: str) -> tuple[int, dict | None, str]:
    # its own session, so every process it starts can be found afterwards
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    stdout, stderr = p.communicate(timeout=600)
    left = _left_running(p.pid)
    if left:
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        LEAKS.append(f"{' '.join(args)}: left {len(left)} process(es) running")
    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, stderr


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", default="0.2")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {
        0: sorted(m["name"] for m in bench["end_to_end"]),
        1: sorted(m["name"] for m in bench["per_layer"]),
    }
    problems = []
    common = ["--seed", "0", "--seconds", "1", "--scale", args.scale]
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            code, res, err = _run(ROOT, "--workload", w, "--trace", str(trace), *common)
            label = f"{w} --trace {trace}"
            if code != 0 or res is None:
                problems.append(f"{label}: exit {code}, no result\n{err[-2000:]}")
                continue
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{label}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{label}: not correct: {res}\n{err[-2000:]}")
            if sorted(res["metrics"]) != want[trace]:
                missing = set(want[trace]) - set(res["metrics"])
                extra = set(res["metrics"]) - set(want[trace])
                problems.append(f"{label}: missing {sorted(missing)}, extra {sorted(extra)}")
            print(f"ok {label}: {len(res['metrics'])} metrics, {res['attempted']} operations")

    for w in (w["name"] for w in bench["workloads"]):
        code, res, err = _run(ROOT, "--workload", w, "--trace", "0", "--corrupt", *common)
        # run.py prints "FAILED <pass> <operation> <reason>" per failure
        flagged = {ln.split()[2] for ln in err.splitlines() if ln.startswith("FAILED ")}
        if res is None or res["correct"] or CORRUPTED[w] - flagged:
            problems.append(
                f"{w} --corrupt: not flagged: {sorted(CORRUPTED[w] - flagged)}; result {res}"
            )
        else:
            print(f"ok {w} --corrupt: flagged {sorted(flagged)}")

    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, res, _ = _run(bare, "--workload", bench["workloads"][0]["name"], *common)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or res is not None:
        problems.append(f"bare directory: exit {code}, result {res}")
    else:
        print(f"ok bare directory: exit {code}, no result")

    problems += LEAKS
    if not LEAKS:
        print("ok every run stopped every process it started")
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
