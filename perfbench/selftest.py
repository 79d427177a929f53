#!/usr/bin/env python3
"""Self-tests of the benchmark's own checks.

Usage, from the repository root:

    python3 perfbench/selftest.py

1. A wrong expected digest for the dedup sink must be reported: the run
   prints correct=false, counts every op as failed, and names the sink.
2. One op's Spark counts must repeat exactly: cy30_shortestpath runs once
   untraced and then twice traced in one JVM, and the job, stage and task
   counts of the two traced runs must be equal.
3. gr05_sssp's counts are known not to repeat exactly: adaptive query
   execution launches one query-stage job more or fewer inside some of
   IterPin's localCheckpoint executions, depending on the order in which
   concurrent stages finish. The same check runs on gr05_sssp and reports
   its counts and the jobs that differ; it does not fail the self-test.

Exits 0 when checks 1 and 2 hold.
"""
import json
import subprocess
import sys
from pathlib import Path

RUN = [sys.executable, "perfbench/run.py"]


def wrong_expected():
    expected = json.loads(Path("perfbench/expected.json").read_text())
    wrong = dict(expected, dedup=dict(expected["dedup"], digest="0" * 64))
    work = Path(".bench_build") / "graft-perfbench"
    work.mkdir(parents=True, exist_ok=True)
    path = work / "wrong-expected.json"
    path.write_text(json.dumps(wrong))
    p = subprocess.run(RUN + ["--workload", "etl_curation", "--seed", "1", "--seconds", "1",
                              "--trace", "0", "--expected", str(path)],
                       capture_output=True, text=True)
    summary = json.loads(p.stdout.strip().splitlines()[-1])
    ok = (p.returncode == 0 and summary["correct"] is False
          and summary["failed"] == summary["attempted"] > 0
          and "check_failed dedup" in p.stderr)
    print(f"wrong expected digest reported: {ok} "
          f"(correct={summary['correct']}, failed={summary['failed']}/{summary['attempted']})")
    return ok


def counts_repeat(op):
    p = subprocess.run(RUN + ["--workload", "graph_iterative", "--seed", "1",
                              "--seconds", "1", "--repeat-check", op],
                       capture_output=True, text=True)
    print(p.stdout.strip() if p.stdout.strip() else p.stderr[-2000:])
    return p.returncode == 0


if __name__ == "__main__":
    results = [wrong_expected(), counts_repeat("cy30_shortestpath")]
    print(f"gr05_sssp counts repeat: {counts_repeat('gr05_sssp')} (known to vary, not a failure)")
    sys.exit(0 if all(results) else 1)
