#!/usr/bin/env python3
"""Benchmark command for the MIKE ETL engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source with sbt (offline) when the sources are newer than the last build,
then runs one measured JVM (`perfbench.Main`) and relays its output. The last
stdout line is one JSON object: correct, attempted, failed and metrics.

Extra option:
    --overhead  run untraced, then traced, on the same seed and print the
                tracing overhead of each timing (no JSON result line)
"""
import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".perfbench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ("mike_tick", "queries_sf0.1")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    """Newest mtime of the sources and build definitions of program and harness."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for p in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(p):
            files += [os.path.join(p, f) for f in os.listdir(p)]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return max(os.path.getmtime(f) for f in files if os.path.isfile(f))


def build():
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    cp = [ln.strip() for ln in lines if ".jar" in ln and ":" in ln and " " not in ln.strip()]
    if not cp:
        raise SystemExit("build produced no classpath")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1])
    log(f"built in {time.time() - t0:.0f}s")


def jvm(args, extra):
    work = os.path.join(ROOT, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--root", ROOT] + extra
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("benchmark JVM timed out")
    if p.returncode != 0:
        sys.stderr.write(out)
        raise SystemExit(f"benchmark JVM exited with {p.returncode}")
    lines = out.rstrip("\n").splitlines()
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("malformed result line")
    return lines[:-1], result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("run from the root of a checkout: program sources not found")
    build()
    if args.overhead:
        _, plain = jvm(args, ["--trace", "0"])
        report, traced = jvm(args, ["--trace", "1"])
        print("\n".join(report))
        for k, v in plain["metrics"].items():
            t = traced["metrics"].get(f"traced.{k}")
            if t and v["value"]:
                print(f"[perfbench] tracing overhead {k}: untraced {v['value']:.4f} s, "
                      f"traced {t['value']:.4f} s ({100 * (t['value'] / v['value'] - 1):+.1f}%)")
        return
    report, result = jvm(args, ["--trace", str(args.trace)])
    print("\n".join(report))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
