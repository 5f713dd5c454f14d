#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <import|ingest> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine's main
sources together with the benchmark program (sbt, in perfbench/); later runs
reuse the build while the sources are unchanged. The benchmark JVM writes the
whole run as JSON under perfbench/results/; this script prints a summary and,
as its last line, the result object: {"correct", "attempted", "failed",
"metrics"}, where metrics are the end-to-end metrics of BENCHMARK.json
(--trace 0) or its per-layer metrics (--trace 1). It exits non-zero when the
build fails, the run fails, or any output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
WORKLOADS = ("import", "ingest")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def jvm_command(classpath, work):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath])


def build():
    """Compile with sbt once per source state. Returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine sources (src/main/scala/graft) are missing; "
             "run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp = source_stamp()
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "perfbench-classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved.get("stamp") == stamp:
            return saved["classpath"], stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("perfbench: building (sbt compile)", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = [l for l in lines if not l.startswith("[") and os.pathsep in l
          and "classes" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    classpath = cp[-1]
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath, stamp


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, args, work, out):
    cmd = (jvm_command(classpath, work)
           + ["perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--out", out])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0:
        with open(log_path, errors="replace") as fh:
            tail = fh.read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail("benchmark JVM timed out" if code is None
             else f"benchmark JVM exited with {code}", 3)


def counters_note(art, results):
    """Compares this traced run's counters with an earlier traced run of the
    same workload and seed, if one is on disk."""
    key = f"{art['workload']}-seed{art['seed']}"
    path = os.path.join(results, f"counters-{key}.json")
    counters = {k: v["value"] for k, v in art["per_layer"].items()
                if k.split(".")[-1].startswith(("jobs_", "files_", "bytes_",
                                                "versions_", "read_amp",
                                                "manifest_bytes"))}
    counters.update(art.get("per_layer_counters") or {})
    note = None
    if os.path.exists(path):
        with open(path) as fh:
            before = json.load(fh)
        diff = sorted(k for k in set(before) | set(counters)
                      if before.get(k) != counters.get(k))
        note = ("counters repeat exactly the previous run with this seed"
                if not diff else
                "counters DIFFER from the previous run with this seed: "
                + ", ".join(diff))
    with open(path, "w") as fh:
        json.dump(counters, fh, sort_keys=True)
    return note


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}")

    t0 = time.time()
    classpath, stamp = build()
    build_s = time.time() - t0

    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(results, f"{name}.json")
    try:
        run_jvm(classpath, args, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(out) as fh:
        art = json.load(fh)
    art["build"] = {"seconds": build_s, "source_sha256": stamp,
                    "git_commit": git_commit()}
    if args.trace:
        art["counters_note"] = counters_note(art, results)
    with open(out, "w") as fh:
        json.dump(art, fh, indent=1)

    res = art["result"]
    wanted = [m["name"] for m in
              spec["per_layer" if args.trace else "end_to_end"]]
    missing = [m for m in wanted if m not in res["metrics"]]
    if missing:
        fail(f"run reported no value for {missing}", 4)
    metrics = {m: res["metrics"][m] for m in wanted}

    env = art["environment"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{env['master']} (nproc {env['nproc']}, default parallelism "
          f"{env['default_parallelism']}), Spark {env['spark_version']}, "
          f"Java {env['java_version']}")
    print(f"inputs: {json.dumps(dict(art['inputs']))}")
    pr = art["probes"]
    print(f"probe floors: cpu {pr['cpu_s']:.3f} s, io {pr['io_s']:.3f} s")
    for k, v in list(art["end_to_end"].items()) + list(art["named"].items()):
        print(f"  {k:<24} {v['value']:>14.4f} {v['unit']}")
    for k, v in art["kinds"].items():
        tail = v["tail"]
        tail_s = (f"p{tail['p']:g} {tail['ms']:.1f} ms" if tail
                  else "no percentile with 10 samples beyond it")
        print(f"  op {k:<20} n={v['n']:<4} median {v['median_ms']:.1f} ms, "
              f"{tail_s}")
    if args.trace:
        for k, v in art["per_layer"].items():
            print(f"  {k:<46} {v['value']:>14.4f} {v['unit']}")
        print(f"trace written to {os.path.relpath(out[:-5] + '-trace.json', ROOT)}")
        if art.get("counters_note"):
            print(art["counters_note"])
        if not art["counters_repeat_across_rounds"]:
            print("counters DIFFER between traced rounds of this run")
    print(f"operations: {res['attempted']} attempted, {res['failed']} failed "
          f"({100.0 * art['failed_share']:.2f} % failed)")
    bad = [k for k, ok in art["checks"].items() if not ok]
    print(f"output checks: {len(art['checks']) - len(bad)}/{len(art['checks'])} "
          f"passed" + (f"; FAILED: {bad} {art['check_failures']}" if bad else ""))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
