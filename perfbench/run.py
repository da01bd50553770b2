#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload ml_sql --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It builds the program from source
(perfbench/build.py), runs the workload in one JVM under local[nproc],
checks the program's outputs, and prints the workload's named metrics on
one JSON line and, as the last line, the result:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end-to-end metrics; with --trace 1 its
per-layer metrics, and the spans are written to
.bench_run/trace-<workload>-seed<n>.json. The exit code is non-zero when
any check fails. See perfbench/README.md for the workloads and metrics.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ml_sql", "web_ingest", "vector_store")
RUN_DIR = ".bench_run"
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def tree_state(root):
    """Path -> (size, mtime) of every file of the checkout outside the
    benchmark's own build and run directories, git-ignored ones included."""
    state = {}
    skip = {".git", build.BUILD_DIR, RUN_DIR}
    for dirpath, dirnames, filenames in os.walk(root):
        if Path(dirpath) == root:
            dirnames[:] = [d for d in dirnames if d not in skip]
        for f in filenames:
            p = Path(dirpath) / f
            try:
                st = p.lstat()
            except FileNotFoundError:
                continue
            state[str(p.relative_to(root))] = (st.st_size, st.st_mtime_ns)
    return state


def run_jvm(root, jar, args, cpus, run_dir):
    out = run_dir / "record.json"
    log = run_dir / "jvm.log"
    (run_dir / "tmp").mkdir()
    cds, writing = build.class_archive(jar)
    cmd = (["java", *build.JVM_FLAGS, *cds, "-Xmx2g", *ADD_OPENS, f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-cp", ":".join([str(jar), *build.spark_jars(root)]), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(cpus),
            "--root", str(run_dir), "--out", str(out)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"))
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if writing:
        # the record is complete before the JVM writes the archive at exit
        build.keep_archive(writing, proc.returncode == 0)
        if proc.returncode != 0 and out.exists():
            sys.stderr.write(log.read_text()[-2000:])
            return json.loads(out.read_text())
    if proc.returncode != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-8000:])
        return None
    return json.loads(out.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    jar = build.build(root)
    cpus = len(os.sched_getaffinity(0))

    before = tree_state(root)
    run_dir = (root / RUN_DIR / f"run-{os.getpid()}-{time.time_ns()}").resolve()
    run_dir.mkdir(parents=True)
    try:
        raw = run_jvm(root, jar, args, cpus, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    changed = sorted(set(before.items()) ^ set(tree_state(root).items()))

    if raw is None:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    failed = raw["failed"]
    for f in raw["failures"]:
        print(f"perfbench: {f}", file=sys.stderr)
    if changed:
        print(f"perfbench: the run changed the checkout: {changed[:5]}", file=sys.stderr)
        failed += 1

    rows = metrics.workload_metrics(raw)
    print(json.dumps({"workload": raw["workload"], "seed": raw["seed"],
                      "metrics": {n: {"value": v, "unit": u} for n, v, u in rows},
                      "turn_s": [metrics.call_seconds(t) for t in raw["turns"]],
                      "calib": raw["calib"]}))
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = metrics.per_layer(raw, list(units))
        self_s = metrics.self_times(raw["spans"])
        trace = {"workload": raw["workload"], "seed": raw["seed"], "inputs": raw["inputs"],
                 "spans": [dict(s, self_s=self_s[s["id"]]) for s in raw["spans"]],
                 "groups": raw["groups"], "per_layer": values, "end_to_end": rows}
        (root / RUN_DIR / f"trace-{args.workload}-seed{args.seed}.json").write_text(
            json.dumps(trace, indent=1))
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {n: v for n, v, _ in rows if n in units}
    result = {
        "correct": failed == 0,
        "attempted": max(1, raw["attempted"]),
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
