#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per run, one client thread.

Usage, from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

On first use it builds graft and the harness from source with sbt
(offline), into the directory named by CARGO_TARGET_DIR (default
.bench_build). It then runs graftbench.Harness in one JVM against
local[nproc] and checks results:

- the warm pass's results against DuckDB, using SparkEntry.oracleSql and
  the canonical form of scripts/check_oracle.py;
- the dedup sink, which has no oracle, for survivors that are a subset of
  the input with distinct texts, and for the row count and digest in
  perfbench/expected.json;
- every timed result against the warm pass's digest (in the harness).

It prints each metric as `name value unit`, writes per-op detail to a
side file, and ends with one JSON line: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

START = time.monotonic()
HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORKLOADS = ("graph_iterative", "etl_curation")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents")
# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170
# Spark generates and loads new classes for every query it plans, so with
# the default JIT thresholds the first timed passes run while the JIT is
# still compiling the paths the warm pass reached, and their times follow
# how fast the compiler threads happen to get through. Lower thresholds do
# most of that compiling inside the warm pass (see README).
JIT_OPTS = ["-XX:CompileThresholdScaling=0.2"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def work_dir():
    base = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (ROOT / base / "graft-perfbench").resolve()


def source_stamp():
    """Digest of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "harness"):
        files += sorted(p for p in d.rglob("*")
                        if p.is_file() and "target" not in p.relative_to(d).parts)
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(work):
    """Compile graft and the harness; return the runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = work / "classpath.txt", work / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    log = work / "build.log"
    with open(log, "w") as out:
        rc = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
             "compile", "export Runtime / fullClasspath"],
            cwd=HERE / "harness", env=sbt_env(), stdout=out,
            stderr=subprocess.STDOUT, timeout=840).returncode
    lines = [l.strip() for l in log.read_text().splitlines() if ".jar" in l]
    if rc != 0 or not lines:
        fail(f"build failed (rc={rc}); see {log}", 3)
    cp = lines[-1]
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def run_harness(cp, args, out, work):
    java = shutil.which("java") or fail("java not found on PATH")
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", *JIT_OPTS, f"-Djava.io.tmpdir={tmp}",
        "-cp", cp, "graftbench.Harness",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", str(HERE / "data"), "--out", str(out),
        "--cores", str(len(os.sched_getaffinity(0)))]
    if args.repeat_check:
        cmd += ["--repeat-check", args.repeat_check]
    budget = max(30.0, RUN_LIMIT_S - (time.monotonic() - START))
    with open(out / "harness.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness exceeded {budget:.0f} s; see {out / 'harness.log'}", 4)
    if rc != 0 or not (out / "harness.json").is_file():
        fail(f"harness failed (rc={rc}); see {out / 'harness.log'}", 4)
    return json.loads((out / "harness.json").read_text())


# ---------------- result checks ----------------

def canon(df):
    """scripts/check_oracle.py's canonical form: columns by name, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def digest(df):
    return hashlib.sha256(
        canon(df).astype(str).to_csv(index=False).encode()).hexdigest()


# dedup sinks: (input table, id column, text column)
DEDUP_SINKS = {"dedup": ("documents", "doc_id", "text")}


def check_dedup(key, got, data_dir, expected):
    import pandas as pd
    table, idc, textc = DEDUP_SINKS[key]
    src = pd.read_parquet(data_dir / f"{table}.parquet", columns=[idc, textc])
    problems = []
    matched = got[[idc, textc]].merge(src, on=[idc, textc], how="inner")
    if len(matched) != len(got) or not got[idc].is_unique:
        problems.append("survivors are not a subset of the input")
    if not got[textc].is_unique:
        problems.append("two survivors share a text")
    want = expected.get(key, {})
    if len(got) != want.get("rows"):
        problems.append(f"rows {len(got)} != recorded {want.get('rows')}")
    if digest(got) != want.get("digest"):
        problems.append(f"digest {digest(got)[:12]} differs from the recorded one")
    return problems


def check_results(h, expected):
    """Failed result keys, each with its reason."""
    import duckdb
    import pandas as pd
    data_dir = Path(h["data_dir"])
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        if (data_dir / f"{t}.parquet").is_file():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir / t}.parquet')")
    bad = {}
    for r in h["results"]:
        try:
            got = pd.read_parquet(r["path"])
            if r["oracle"] == "dedup":
                problems = check_dedup(r["key"], got, data_dir, expected)
                if problems:
                    bad[r["key"]] = "; ".join(problems)
                continue
            sql = h["oracle_sql"].get(r["oracle"])
            if sql is None:
                bad[r["key"]] = f"no oracle for {r['oracle']}"
                continue
            if r["columns"]:
                got = got[r["columns"]]
            g, w = canon(got).astype(str), canon(con.execute(sql).df()).astype(str)
            if list(g.columns) != list(w.columns):
                bad[r["key"]] = f"columns {list(g.columns)} != {list(w.columns)}"
            elif len(g) != len(w):
                bad[r["key"]] = f"rows {len(g)} != {len(w)}"
            elif not g.equals(w):
                bad[r["key"]] = f"{int((g != w).any(axis=1).sum())} rows differ"
        except Exception as e:  # a check that cannot run is a failed check
            bad[r["key"]] = f"{type(e).__name__}: {e}"
    return bad


# ---------------- metrics ----------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(h):
    per_op = h["op_latency_s"]
    lat = sorted(x for xs in per_op.values() for x in xs)
    metrics = {
        "setup_s": (h["setup_s"], "s"),
        "pass_s": (median(h["pass_s"]), "s"),
        # the median op's latency: each op's median over the run's passes,
        # then the median over ops, so that the ops' very different costs
        # (0.5-5 s on graph_iterative) do not make it jump between them
        "op_p50_s": (median([median(xs) for xs in per_op.values()]), "s"),
        "retained_heap_mb": (h["retained_heap_mb"], "MB"),
    }
    # a tail percentile is reported only with ten samples beyond it
    notes = [f"op_samples {len(lat)} count"]
    if len(lat) >= 100:
        p90 = statistics.quantiles(lat, n=10)[8]
        notes.append(f"op_p90_s {p90} s ({sum(1 for x in lat if x > p90)} samples above)")
    return metrics, notes


def at_resolution(v, unit):
    """Drop float noise below what was measured: ns for times, bytes for
    MB, six significant digits for ratios of measured values."""
    if unit == "count":
        return int(v)
    if unit == "ratio":
        return float(f"{v:.6g}")
    return round(v, 9 if unit == "s" else 6)


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio") or name.endswith("per_iteration"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=str(HERE / "expected.json"),
                    help="recorded digests (the self-test passes a wrong one)")
    ap.add_argument("--repeat-check", help="run one op twice traced and compare counts")
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not (ROOT / need).is_file():
            fail(f"{need} not found: run from the root of a graft checkout")
    work = work_dir()
    work.mkdir(parents=True, exist_ok=True)
    cp = build(work)

    out = work / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    h = run_harness(cp, args, out, work)
    if args.repeat_check:
        rc = h["repeat_check"]
        print(f"repeat_check {rc['op']} jobs,stages,tasks = {rc['jobs_stages_tasks']}"
              f" equal={rc['equal']}")
        if not rc["equal"]:  # name the kinds of job whose counts differ
            from collections import Counter
            one, two = (Counter(jobs) for jobs in rc["jobs"])
            for job in sorted(set(one) | set(two)):
                if one[job] != two[job]:
                    print(f"  {one[job]} vs {two[job]} jobs: {job}")
        print(f"ungrouped jobs: {rc['ungrouped_jobs']}")
        sys.exit(0 if rc["equal"] else 1)

    expected_file = Path(args.expected)
    expected = json.loads(expected_file.read_text()) if expected_file.is_file() else {}
    bad = check_results(h, expected)
    ops = [json.loads(l) for l in (out / "ops.jsonl").read_text().splitlines() if l]
    bad_ops = {r["op"] for r in h["results"] if r["key"] in bad}
    for o in ops:
        if o["op"] in bad_ops and o["ok"]:
            o["ok"], o["error"] = False, "the warm pass failed the oracle check"
    failed = sum(1 for o in ops if not o["ok"])
    attempted = len(ops)

    if args.trace:
        metrics = {k: (v, unit_of(k)) for k, v in h["layer"].items()}
        notes = []
    else:
        metrics, notes = end_to_end(h)
    metrics = {k: (at_resolution(v, u), u) for k, (v, u) in metrics.items()}
    for k, (v, u) in metrics.items():
        print(f"{k} {v} {u}")
    error_rate = failed / attempted if attempted else 1.0
    print(f"error_rate {error_rate} ratio")
    for n in notes:
        print(n)
    for k, why in bad.items():
        print(f"check_failed {k}: {why}", file=sys.stderr)
    for e in h["errors"]:
        print(f"op_failed {e}", file=sys.stderr)

    side = work / "results" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    side.parent.mkdir(parents=True, exist_ok=True)
    side.write_text(json.dumps({"harness": {k: v for k, v in h.items() if k != "oracle_sql"},
                                "ops": ops, "check_failures": bad}, indent=1))
    print(f"detail {os.path.relpath(side, ROOT)}")
    summary = {"correct": failed == 0 and not bad, "attempted": attempted,
               "failed": failed,
               "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(summary, separators=(",", ":")))
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
