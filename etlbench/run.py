#!/usr/bin/env python3
"""Benchmark of the daily Monday.com ETL and the analytics keys.

Usage (from the repository root):
  python3 etlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 etlbench/run.py --selftest
  python3 etlbench/run.py --workload <keyed workload> ... --record-digests

Builds the program and the benchmark from source (etlbench/build.py) into
$CARGO_TARGET_DIR or .bench_build, runs one workload in a fresh JVM, prints
every metric by name with its unit, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. Exits 1 when an output check fails, 2 when it cannot run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

DEADLINE_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"etlbench: {msg}\n")
    sys.exit(2)


def git_rev():
    """The checked-out commit when run inside a git work tree, else None."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def java_cmd(params, build_dir, work, main, main_args):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # JIT thresholds at a tenth, so the warm-up ends within the run: with
    # the default ones a day's CPU was still falling at the tenth day
    cmd += [f"-Xmx{params['heap']}", "-Xss8m", "-XX:CompileThresholdScaling=0.1",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false",
            "-cp", build.classpath(build_dir), main] + main_args
    return cmd


def run_jvm(cmd, log_path, deadline):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=ROOT)
        try:
            return proc.wait(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded its deadline; log in {log_path}")


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        with open(os.path.join(BENCH, "params.json")) as f:
            params = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read the benchmark's configuration: {e}")
    names = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in names:
        fail(f"--workload must be one of {names}")

    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    # the first run of a checkout compiles; later runs reuse the classes
    deadline = t_start + (900 - 30 if not os.path.isdir(
        os.path.join(build_dir, "classes")) else DEADLINE_S)
    try:
        stamp = build.build(build_dir)
    except build.BuildError as e:
        fail(f"build failed: {e}")

    work = os.path.join(build_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)

    if a.selftest:
        code = subprocess.call(java_cmd(params, build_dir, work,
                                        "etlbench.SelfTest", []), cwd=ROOT)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)

    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    out = os.path.join(results, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    log = os.path.join(results, tag + ".log")
    code = run_jvm(java_cmd(params, build_dir, work, "etlbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--params", os.path.join(BENCH, "params.json"),
        "--digests", os.path.join(BENCH, "expected_digests.json"),
        "--out", out]), log, deadline)
    if a.trace and os.path.exists(os.path.join(work, "trace.json")):
        shutil.move(os.path.join(work, "trace.json"),
                    os.path.join(results, tag + ".trace.json"))
    shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(out):
        fail(f"the run wrote no result (exit {code}); log in {log}")
    with open(out) as f:
        res = json.load(f)

    if a.record_digests and "observed_digests" in res:
        path = os.path.join(BENCH, "expected_digests.json")
        cur = json.load(open(path)) if os.path.exists(path) else {}
        cur[a.workload] = res["observed_digests"]
        with open(path, "w") as f:
            json.dump(cur, f, indent=1, sort_keys=True)
            f.write("\n")

    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in declared:
        # a layer the workload never calls did no work: it reports zero
        v = res["metrics"].get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for name in sorted(set(res["metrics"]) - {m["name"] for m in declared}):
        print(f"undeclared metric {name} = {res['metrics'][name]}")

    prov = dict(res.get("provenance", {}))
    prov.update({"git_rev": git_rev(), "source_sha256": stamp,
                 "heap": params["heap"], "nproc": os.cpu_count()})
    res["provenance"] = prov
    e2e = res.get("end_to_end", {})
    last_untraced = os.path.join(results, f"last_untraced_{a.workload}.json")
    if a.trace:
        if os.path.exists(last_untraced):
            base = json.load(open(last_untraced))
            res["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
            for k, v in res["tracing_overhead"].items():
                print(f"tracing overhead {k}: {v:+.4f} (traced minus untraced)")
        else:
            print("tracing overhead: no untraced run of this workload yet")
    else:
        with open(last_untraced, "w") as f:
            json.dump(e2e, f)
    with open(out, "w") as f:
        json.dump(res, f, indent=1)

    for c in res.get("checks", []):
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}")
    print(f"{a.workload} seed={a.seed} ops={res['samples'].get('measured_ops')} "
          f"checks={len(res.get('checks', []))} result={out}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print("provenance: " + json.dumps(prov, sort_keys=True))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if res["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
