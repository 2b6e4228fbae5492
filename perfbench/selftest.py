"""Self-test of the benchmark on tiny inputs. Run from the repository root:

    python3 perfbench/selftest.py

It drives every workload end to end, traced, on tiny inputs (sf0.001
tables, a few hundred CDC events, a 2 s live phase) and expects
``correct`` with no failures. It then damages one output each way the check must catch -- a
wrong query result, a dropped CDC event, a corrupted mirror row -- and
expects failures to be counted. It also checks that every metric named
in BENCHMARK.json is printed, that a directory holding only the
benchmark makes it exit non-zero without a result, and, in a git work
tree, that the runs leave ``git status`` unchanged. Exits 0 when all
checks pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
# (workload, injected fault, trace, expect correct)
CASES = (
    ("curation_e2e", "none", 1, True),
    ("cdc_ingest", "none", 1, True),
    ("curation_e2e", "wrong_result", 0, False),
    ("cdc_ingest", "drop_event", 0, False),
    ("cdc_ingest", "corrupt_mirror", 0, False),
)


def _run(cwd: str, workload: str, inject: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--tiny", "--inject", inject]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _git_status() -> str | None:
    p = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True)
    return p.stdout if p.returncode == 0 else None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = {0: {m["name"] for m in spec["end_to_end"]}, 1: {m["name"] for m in spec["per_layer"]}}
    problems = []
    before = _git_status()

    for workload, inject, trace, want in CASES:
        p = _run(ROOT, workload, inject, trace)
        label = f"{workload} inject={inject} trace={trace}"
        if p.returncode != 0:
            problems.append(f"{label}: exit {p.returncode}\n{p.stderr[-3000:]}")
            continue
        r = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"{label}: correct={r['correct']} failed={r['failed']}/{r['attempted']}")
        if r["correct"] != want or (r["failed"] == 0) != want:
            problems.append(f"{label}: expected correct={want}, got {r}")
        if set(r["metrics"]) != names[trace]:
            problems.append(f"{label}: metrics {sorted(set(r['metrics']) ^ names[trace])} "
                            "differ from BENCHMARK.json")

    # Only the benchmark, no program: must fail fast and print no result.
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = _run(bare, "cdc_ingest", "none", 0)
    shutil.rmtree(bare, ignore_errors=True)
    print(f"bare directory: exit {p.returncode}")
    if p.returncode == 0 or p.stdout.strip():
        problems.append(f"bare directory: exit {p.returncode}, stdout {p.stdout!r}")

    if before is not None and _git_status() != before:
        problems.append("git status changed during the runs")

    for msg in problems:
        print("FAIL", msg)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
