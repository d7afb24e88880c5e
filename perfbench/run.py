#!/usr/bin/env python3
"""Seeded, layer-attributed benchmark of the interval, pileup and VEP layers.

Run from the repository root:

  python3 perfbench/run.py --workload ranges_probe --seed 1 --seconds 8 --trace 0
  python3 perfbench/run.py --workload all --seed 1      # every workload, both modes
  python3 perfbench/run.py --selftest                   # the output check rejects perturbed output

The first run builds the benchmark and the library from source with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ["ranges_probe", "depth_bam", "annotate_vep"]
RUN_LIMIT_S = 170
SBT_LIMIT_S = 480

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def build_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def source_stamp():
    """Hash of every file the build or the oracle reads."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, f) for f in ("build.sbt", "oracle.py", os.path.join("project", "build.properties"))]
    for top in (os.path.join(BENCH, "src"), os.path.join(ROOT, "src", "main")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(names)]
    for p in files:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no library sources under src/main/scala; run from the repository root")
        sys.exit(2)
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return open(cp_file).read().strip(), stamp
    sbt = shutil.which("sbt")
    if sbt is None:
        log("sbt not found on PATH")
        sys.exit(2)
    log("building with sbt")
    t0 = time.time()
    try:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                            "writeClasspath"], cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=SBT_LIMIT_S)
    except subprocess.TimeoutExpired:
        log("build timed out")
        sys.exit(2)
    if r.returncode != 0 or not os.path.exists(cp_file):
        log("build failed")
        sys.exit(2)
    cp = open(cp_file).read().strip()
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp, stamp


def java_cmd(cp, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    return [java, "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", *opens, "-cp", cp, main, *args]


def run_jvm(cmd, limit):
    """Run the JVM; return (exit code, last JSON line of its stdout)."""
    # scratch space comes from session.conf (inside the checkout); an
    # inherited SPARK_LOCAL_DIRS would override it
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, text=True, env=env)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        log(f"run exceeded {limit} s")
        return 3, None
    result = None
    for line in out.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                result = json.loads(line)
            except ValueError:
                pass
    return p.returncode, result


def run_one(cp, stamp, workload, seed, seconds, trace, deadline):
    base = build_root()
    work = os.path.join(base, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--bench-dir", BENCH,
            "--oracle-dir", os.path.join(base, "oracle"), "--build-id", stamp[:16]]
    if trace:
        args += ["--spans", os.path.join(base, "spans", f"{workload}-{seed}.jsonl")]
    try:
        code, result = run_jvm(java_cmd(cp, work, "perfbench.Main", args), max(10, deadline - time.time()))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or result is None:
        log(f"{workload} failed (exit {code})")
        sys.exit(1)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    cp, stamp = build()
    if a.selftest:
        work = os.path.join(build_root(), f"selftest-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            cmd = java_cmd(cp, work, "perfbench.SelfTest", ["--work", work, "--bench-dir", BENCH])
            code, result = run_jvm(cmd, RUN_LIMIT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(result))
        sys.exit(0 if code == 0 and result and result.get("correct") else 1)
    if a.workload is None:
        ap.error("--workload is required")
    if a.workload != "all":
        r = run_one(cp, stamp, a.workload, a.seed, a.seconds, a.trace == 1, time.time() + RUN_LIMIT_S)
        print(json.dumps(r))
        return
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        for trace in (False, True):
            r = run_one(cp, stamp, w, a.seed, a.seconds, trace, time.time() + RUN_LIMIT_S)
            print(json.dumps({"workload": w, "trace": int(trace), **r}))
            merged["correct"] &= r["correct"]
            merged["attempted"] += r["attempted"]
            merged["failed"] += r["failed"]
            for k, v in r["metrics"].items():
                merged["metrics"][f"{w}.{k}"] = v
    print(json.dumps(merged))


if __name__ == "__main__":
    main()
