"""Run one graft benchmark workload and print its result line.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload tol_serve|gates --seed N \
        --seconds S --trace 0|1

The first run builds the benchmark (graft's main sources plus the harness
in perfbench/src) with sbt into perfbench/target, and records the class
path under .bench_build/; later runs reuse it while no source changed.
The harness runs in one JVM with its scratch files under .bench_build/.
Standard output ends with the harness's detail line and then the result
line; Spark's log goes to .bench_build/logs/.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170  # the whole run must end within 180 s

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if needed; return the runtime class path."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "logs", "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        die(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["tol_serve", "gates"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("run from the root of a graft checkout (src/main/scala/graft is missing)")
    for d in ("logs", "tmp", "work", "spark-local", "warehouse"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    cp = classpath()

    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g",
        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(BUILD, 'tmp')}",
        "-Dspark.ui.enabled=false",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", os.path.join(BUILD, "work"),
    ]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its
    # scratch files inside the checkout either way
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))
    log = os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-trace{a.trace}.log")
    # a build may precede the first run; the run itself gets the full limit
    budget = RUN_LIMIT_S
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                             text=True)
        try:
            out, _ = p.communicate(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            die(f"run exceeded {budget:.0f} s; see {log}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    for l in lines[:-1]:
        print(l)
    if p.returncode != 0 or not lines:
        die(f"harness exited {p.returncode}; see {log}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"malformed result line: {lines[-1][:200]}")
    print(lines[-1])


if __name__ == "__main__":
    main()
