#!/usr/bin/env python3
"""Engine benchmark: builds the engine and the benchmark, runs one workload.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload converge|suite --seed N \
      --seconds S --trace 0|1

The first run in a checkout compiles the engine together with perfbench/src
through sbt. No build file is changed: the sbt command line adds the extra
source directory and points the project's `target` at
`.bench_build/perfbench/sbt-target`, so no classes land in the engine's own
`target/`. The build then packs the classes into a jar and records the classes
a short converge run loads in a class-data-sharing archive. Later runs start
the JVM directly on the jar with that archive, so a fresh JVM does not parse
and verify the Spark classes again. Besides `.bench_build/`, a run writes only
what every sbt invocation writes: the meta-build's `project/target` and
`project/project`, and sbt's global logs and streams under `target/`
(`global-logging`, `streams/_global`, `task-temp-directory`).

The last line of standard output is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics untraced and the per-layer metrics traced. The line
before it carries the details: input shape, checks, workload-specific figures.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SBT_TARGET = os.path.join(BUILD, "sbt-target")
STAMP = os.path.join(BUILD, "build.stamp")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
JAR = os.path.join(BUILD, "classes.jar")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("converge", "suite")
RUN_LIMIT_S = 170.0
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".properties", ".sbt"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark once per source state; returns the classpath."""
    digest = sources_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f, open(CLASSPATH) as f2:
            stamp, classpath = f.read(), f2.read().strip()
        if stamp == digest:
            return classpath
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(sbt_opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           'set Compile / unmanagedSourceDirectories += baseDirectory.value / "perfbench" / "src"',
           f"set target := file({json.dumps(SBT_TARGET)})",
           "compile", "export Runtime / fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if os.pathsep in ln and "scala-2.13" in ln
           and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {r.returncode}); log in {log}")
    classes, libs = cps[-1].split(os.pathsep, 1)
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, names in os.walk(classes):
            for n in names:
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    classpath = os.pathsep.join([JAR, libs])
    train_archive(classpath)
    with open(CLASSPATH, "w") as f:
        f.write(classpath)
    with open(STAMP, "w") as f:
        f.write(digest)
    return classpath


def train_archive(classpath):
    """Writes the class-data-sharing archive from one short converge run."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_jvm(classpath, ["--workload", "converge", "--seed", "0", "--seconds", "0", "--trace", "0",
                            "--conversations", "100", "--work", work,
                            "--out", os.path.join(work, "result.json")],
                work, time.monotonic() + RUN_LIMIT_S, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def generate_tables(dest, seed):
    """Writes the suite tables three times; returns the median seconds."""
    r = subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), dest, str(seed), "3"],
                       stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        fail("table generation failed")
    return float(r.stdout.split()[-1])


def run_jvm(classpath, args, work, deadline, flags=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", *flags]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Bench"] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail("benchmark JVM timed out" if code is None else f"benchmark JVM exited {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        fail(f"no engine sources under {ROOT}; run from the root of a full checkout")

    classpath = build()
    # the run's time limit starts after the build, which has its own timeout
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(BUILD, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", os.path.join(work, "result.json")]
        tables = os.path.join(work, "tables")
        if a.workload == "suite":
            args += ["--tables", tables, "--gen-s", repr(generate_tables(tables, a.seed))]
        flags = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
        run_jvm(classpath, args, work, deadline, flags)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        checks, failed = res["checks"], res["failed"]
        if a.workload == "suite" and res["queries"]:
            import oracle
            for q, ok, note in oracle.compare(tables, os.path.join(work, "results"), res["queries"]):
                checks.append({"name": f"oracle.{q}", "ok": ok, "note": note})
                failed += 0 if ok else 1
        with open(os.path.join(BUILD, f"last-{a.workload}.json"), "w") as f:
            json.dump(res, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    detail = {
        "workload": a.workload, "seed": a.seed, "cores": res["cores"], "shape": res["shape"],
        "detail": res["detail"], "errors": res["errors"],
        "failed_checks": [c for c in checks if not c["ok"]], "checks_passed": sum(c["ok"] for c in checks),
    }
    if a.trace:
        detail["end_to_end_untraced_pass"] = res["end_to_end"]
    print(json.dumps(detail))
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    print(json.dumps({"correct": failed == 0, "attempted": max(1, res["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    sys.dont_write_bytecode = True  # importing oracle.py leaves no cache behind
    sys.path.insert(0, HERE)
    main()
