#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, in this directory's own build) into
`.bench_build/`. Every run then checks the checksums of its inputs, starts
one JVM with a `local[nproc]` session, and prints one JSON result as the
last line of standard output. See perfbench/README.md for the workloads
and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
SF = os.path.join(BENCH, "data", "sf0.1")
WORKLOADS = ("queries_sf0.1", "table_dml")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def tree_files(top):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def source_stamp():
    """Hash of every file the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for p in tree_files(top):
            h.update(os.path.relpath(p, ROOT).encode())
            h.update(sha256(p).encode())
    for p in ("build.sbt", os.path.join("project", "build.properties")):
        h.update(sha256(os.path.join(BENCH, p)).encode())
    return h.hexdigest()


def run_child(cmd, timeout, env=None, cwd=None, stdout=None):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd or ROOT, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT if stdout else None,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built():
    """Build if the sources changed; return (classpath, whether it built)."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    main_class = os.path.join(BUILD, "target", "scala-2.13", "classes", "perfbench", "Main.class")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.exists(cp_file) and os.path.exists(main_class):
        return open(cp_file).read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    log("building program and harness (sbt compile)")
    out_path = os.path.join(BUILD, "build.log")
    with open(out_path, "wb") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       900, env=sbt_env(), cwd=BENCH, stdout=out)
    if rc != 0:
        sys.stderr.write("".join(open(out_path, errors="replace").readlines()[-40:]))
        fail(f"build failed (exit {rc}); see {out_path}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip(), True


def java_cmd(cp, main, args, props):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # the heap is fixed at its maximum: a heap G1 grows during the run
    # changes GC work pass by pass, by as much as one run from another
    cmd += ["-Xms4g", "-Xmx4g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    return cmd + ["-cp", cp, main] + args


def jvm(cp, main, args, props, timeout):
    """Run a harness main; its stdout goes to our stderr, so the result
    line stays the last line of our stdout."""
    try:
        return run_child(java_cmd(cp, main, args, props), timeout, stdout=sys.stderr.fileno())
    except subprocess.TimeoutExpired:
        fail(f"harness killed after {timeout:.0f} s", 1)


def verify_inputs():
    """Compare every input file's sha256 with inputs.json: runs on
    different inputs must not be compared."""
    with open(os.path.join(BENCH, "inputs.json")) as f:
        expected = json.load(f)["sf0.1"]["sha256"]
    got = {os.path.relpath(p, SF): sha256(p) for p in tree_files(SF)}
    if got != expected:
        bad = sorted(set(got.items()) ^ set(expected.items()))[:5]
        fail(f"input checksum mismatch under {SF}: {bad}")


def run_workload(cp, a, seed, record=None):
    run_dir = os.path.join(BUILD, "run", f"{a.workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "work")}
    for d in dirs.values():
        os.makedirs(d)
    out = os.path.join(run_dir, "result.json")
    args = ["--workload", a.workload, "--seed", str(seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--sf", SF, "--work", dirs["work"],
            "--expected", os.path.join(BENCH, "expected.json"), "--out", out,
            "--spans", os.path.join(BUILD, "trace", f"{a.workload}-seed{seed}.spans.jsonl")]
    if record:
        args += ["--record", record]
    props = {"java.io.tmpdir": dirs["tmp"], "perfbench.localDir": dirs["local"]}
    try:
        rc = jvm(cp, "perfbench.Main", args, props, timeout=a.timeout)
        if rc != 0 or not os.path.exists(out):
            fail(f"harness exited with {rc} and no result", 1)
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def record_expected(cp, a):
    """Record expected fingerprints for a workload from two runs with
    different seeds; a hash that differs between them is dropped (that
    operation gets the row-count check only)."""
    recs = []
    for seed in (a.seed, a.seed + 1):
        path = os.path.join(BUILD, f"record-{a.workload}-{seed}.json")
        res = run_workload(cp, a, seed, record=path)
        if res["failed"]:
            fail(f"recording run failed: {res['failures']}", 1)
        with open(path) as f:
            recs.append(json.load(f))
    first, second = recs
    merged = {}
    for k, v in first.items():
        w = second.get(k)
        if w is None or w["rows"] != v["rows"]:
            fail(f"{k}: row count differs between recording runs ({v} vs {w})", 1)
        merged[k] = {"rows": v["rows"], "hash": v["hash"] if v["hash"] == w["hash"] else None}
    path = os.path.join(BENCH, "expected.json")
    allexp = json.load(open(path)) if os.path.exists(path) else {}
    allexp[a.workload] = dict(sorted(merged.items()))
    with open(path, "w") as f:
        json.dump(allexp, f, indent=1, sort_keys=True)
        f.write("\n")
    unstable = sorted(k for k, v in merged.items() if v["hash"] is None)
    log(f"recorded {len(merged)} fingerprints for {a.workload}; row-count only: {unstable}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record expected.json for the workload (two runs)")
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("the program's sources (src/main/scala) are not in this directory; "
             "run from the root of a checkout")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    verify_inputs()
    cp, built = ensure_built()
    # a run has 180 s; one that first builds, 900 s
    budget = 900 if a.record or built else 180
    a.timeout = max(60, budget - 10 - (time.time() - t_start))
    if a.record:
        record_expected(cp, a)
        return
    res = run_workload(cp, a, a.seed)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["metrics"]
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    for k, v in res.get("info", {}).items():
        print(f"info {k} = {v}")
    if a.trace:
        log(f"spans written to .bench_build/trace/{a.workload}-seed{a.seed}.spans.jsonl")
    for k, v in metrics.items():
        print(f"metric {k} = {v['value']:.6g} {v['unit']}")
    failed = int(res["failed"])
    print(json.dumps({"correct": failed == 0, "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
