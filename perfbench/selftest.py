#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

Run from the repository root:

    python3 perfbench/selftest.py [workload] [seed]

Runs the benchmark twice on one workload: once as is, which must report
every execution correct, and once with --corrupt 1, which deletes the
largest data file of one sink's output before the first check and must be
reported as a failed execution (correct=false, failed > 0).
"""
import json
import subprocess
import sys


def run(workload, seed, corrupt):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "0", "--corrupt", corrupt],
        stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    workload = sys.argv[1] if len(sys.argv) > 1 else "small_jobs"
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    clean = run(workload, seed, "0")
    bad = run(workload, seed, "1")
    print(f"clean:     correct={clean['correct']} attempted={clean['attempted']} failed={clean['failed']}")
    print(f"corrupted: correct={bad['correct']} attempted={bad['attempted']} failed={bad['failed']}")
    ok = clean["correct"] and clean["failed"] == 0 and not bad["correct"] and bad["failed"] > 0
    print("selftest " + ("passed" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
