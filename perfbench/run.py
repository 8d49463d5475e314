"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest|maintain \
        --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source (see build.py), runs
`perfbench.Main` in one JVM with Spark at local[<cores>], and prints one
JSON object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports every end-to-end metric of BENCHMARK.json, `--trace 1` every
per-layer metric (0 where a layer is not on the workload's path).

The full result record (seed, input sizes, rounds, output digests, span
summary) is kept in .bench_out/results/ for perfbench/compare.py.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
DEADLINE_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {args.workload!r}")
    try:
        classpath = build.ensure_built()
    except build.BuildError as e:
        fail(f"build: {e}")
    t_start = time.monotonic()  # a build may take longer; the run may not

    out_dir = os.path.join(ROOT, ".bench_out")
    work = os.path.join(ROOT, ".bench_build", "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(out_dir, "logs"), exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    record_path = os.path.join(out_dir, "results", tag + ".json")
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
              "-Dspark.ui.enabled=false", f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Dderby.stream.error.file={work}/derby.log",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", record_path])
    log_path = os.path.join(out_dir, "logs", tag + ".log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(record_path):
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}; see {log_path}", 1)

    with open(record_path) as f:
        rec = json.load(f)
    got = rec["metrics"] or {}
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        if m["name"] in got:
            if got[m["name"]]["unit"] != m["unit"]:
                fail(f"metric {m['name']}: unit {got[m['name']]['unit']} != {m['unit']}", 1)
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        else:
            missing.append(m["name"])
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
    if not args.trace and missing:
        fail(f"end-to-end metrics not reported: {missing}", 1)
    rec["not_on_path"] = missing
    with open(record_path, "w") as f:
        json.dump(rec, f, indent=1)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"warm_rounds={rec['warm_rounds']} rounds={rec['rounds']} ops={rec['op_samples']} record={record_path}")
    print(f"  sizes {json.dumps(rec['sizes'])}")
    for c in rec["failed_checks"]:
        print(f"  check failed: {c}")
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"],
                      "metrics": metrics if rec["correct"] else {}}))


if __name__ == "__main__":
    main()
