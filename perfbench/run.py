"""Runs one benchmark workload and prints its metrics as one JSON line.

    python3 perfbench/run.py --workload geo_etl --seed 1 --seconds 15 --trace 0

Steps: build the program from source (perfbench/build.py), generate the
workload's input tables from the seed, run the JVM side (a verified pass,
then timed passes for --seconds), check every query's verified-pass result
against its DuckDB oracle, and print
`{"correct", "attempted", "failed", "metrics"}` as the last stdout line.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones; a traced run also writes its spans and
per-query breakdown to <build dir>/trace/. Provenance (git SHA, cores,
load, versions, configs, input fingerprint, seed) goes to stderr and to
the run record under <build dir>/runs/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pandas as pd

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import analysis  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS, orders  # noqa: E402

ROOT = build.ROOT
RUN_LIMIT_S = 170        # the whole run, build of an unchanged tree included
QUERY_TIMEOUT_S = 60
MAX_PASSES = 64
FN_ROWS = 100_000
JVM_HEAP = "3g"


def loadavg() -> str:
    try:
        return " ".join(Path("/proc/loadavg").read_text().split()[:3])
    except OSError:
        return ""


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs: the
    evidence of co-tenant load that loadavg inside a VM cannot show."""
    try:
        fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def git_sha() -> str:
    """HEAD of the checkout, or '' when it is not a git repository."""
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return ""


def fingerprint(data_dir: Path) -> dict:
    return {f.name: [f.stat().st_size, int(f.stat().st_mtime)]
            for f in sorted(data_dir.glob("*.parquet"))}


def make_inputs(bdir: Path, workload: str, seed: int) -> Path:
    """The workload's tables for this seed, generated once per build dir."""
    data = bdir / "data" / f"{workload}-{seed}"
    done = data / ".done"
    if not done.exists():
        w = WORKLOADS[workload]
        gen.write(seed, w["sizes"], w["tables"], data)
        done.write_text("")
    return data


def round_counts(dump: Path, queries: list) -> float:
    """Sum of the round counts the queries emit (columns named rounds*)."""
    total = 0.0
    for q in queries:
        try:
            df = pd.read_parquet(dump / q)
        except Exception:  # noqa: BLE001 - a failed query emits no rounds
            continue
        for c in df.columns:
            if c.startswith("rounds") and len(df):
                total += float(df[c].iloc[0])
    return total


def metric_specs(kind: str) -> list:
    return json.loads((ROOT / "BENCHMARK.json").read_text())[kind]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()
    load_at_launch = loadavg()
    steal_at_launch = steal_s()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    bdir = build.build_dir()
    cores = len(os.sched_getaffinity(0))
    queries = WORKLOADS[args.workload]["queries"]
    data = make_inputs(bdir, args.workload, args.seed)
    run_dir = bdir / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    dump = run_dir / "dump"
    dump.mkdir(parents=True, exist_ok=True)
    order = orders(args.workload, args.seed, MAX_PASSES)
    plan = {
        "data": data, "dump": dump, "out": run_dir / "raw.json", "cores": cores,
        "seconds": args.seconds, "trace": args.trace, "query_timeout_s": QUERY_TIMEOUT_S,
        "verify": ",".join(queries), "passes": ";".join(",".join(o) for o in order),
        "seed": args.seed, "fn_rows": FN_ROWS,
    }
    (run_dir / "plan.properties").write_text(
        "".join(f"{k}={str(v).replace(chr(92), '/')}\n" for k, v in plan.items()))
    cmd = build.jvm_base(bdir) + [
        f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Dspark.callstack.depth=200",
        f"-Dspark.local.dir={bdir / 'tmp'}",
        *[a for p in build.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
        "-cp", f"{classes}:{build.spark_jars()}/*", "graft.perfbench.Runner",
        str(run_dir / "plan.properties")]
    launch_s = time.time()
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            proc.wait(timeout=max(10.0, RUN_LIMIT_S - (launch_s - t_start)))
        except subprocess.TimeoutExpired:
            print(f"[perfbench] JVM exceeded the run limit; log: {run_dir / 'jvm.log'}",
                  file=sys.stderr)
            return 3
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not (run_dir / "raw.json").exists():
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        print(f"[perfbench] JVM exited with {proc.returncode}:\n{tail}", file=sys.stderr)
        return 3
    raw = json.loads((run_dir / "raw.json").read_text())

    # failures: exceptions and timeouts anywhere, oracle mismatches of the
    # verified pass
    verdict = oracle.check(data, dump, queries, bdir / "tmp")
    failures = []
    for q in raw["verify"]:
        why = q["error"] or verdict.get(q["name"], "")
        if why:
            failures.append(f"verify {q['name']}: {why}")
    timed = [q for p in raw["passes"] for q in p["queries"]]
    failures += [f"{q['group']}: {q['error']}" for q in timed if q["error"]]
    attempted = len(raw["verify"]) + len(timed)
    for f in failures:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)

    provenance = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "git_sha": git_sha(), "nproc": cores, "master": raw["master"],
        "loadavg_at_launch": load_at_launch, "loadavg_at_end": loadavg(),
        "cpu_steal_s": steal_s() - steal_at_launch,
        "jvm": raw["jvm_version"], "spark": raw["spark_version"],
        "configs": raw["configs"], "input_fingerprint": fingerprint(data),
        "passes": len(raw["passes"]),
    }
    if args.trace:
        values = analysis.per_layer(raw, cores, round_counts(dump, queries))
        specs = metric_specs("per_layer")
        all_spans = analysis.spans(raw)
        breakdown = [dict(name=q["name"], group=q["group"], **analysis.query_breakdown(q, jobs))
                     for p in raw["passes"] if p["traced"]
                     for q, jobs, _ in analysis.attribute(raw, p["queries"])]
        trace_dir = bdir / "trace"
        trace_dir.mkdir(parents=True, exist_ok=True)
        (trace_dir / f"{args.workload}-seed{args.seed}.json").write_text(json.dumps({
            "provenance": provenance, "metrics": values, "queries": breakdown,
            "self_time_s": analysis.self_times(all_spans), "spans": all_spans}, indent=1))
    else:
        values = analysis.end_to_end(raw, launch_s, attempted, len(failures))
        specs = metric_specs("end_to_end")
    (run_dir / "provenance.json").write_text(json.dumps(provenance, indent=1))
    print(json.dumps(provenance), file=sys.stderr)
    if failures:
        # keep the dumps of a failed run for inspection
        print(f"[perfbench] results kept under {run_dir}", file=sys.stderr)
    else:
        shutil.rmtree(dump, ignore_errors=True)
    metrics = {s["name"]: {"value": values.get(s["name"], 0.0), "unit": s["unit"]}
               for s in specs}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
