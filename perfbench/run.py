#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload read_sql --seed 1 --seconds 10 --trace 0

Builds the program (``src/main/scala``) and the benchmark driver
(``perfbench/src``) with the Scala compiler that ships in Spark's jars,
makes the seeded inputs, runs the workload on one JVM at ``local[nproc]``
with one client thread, checks every output with ``check.py`` (DuckDB and
numpy, apart from the program) and prints the metrics as the last line of
standard output.  See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen    # noqa: E402

PROGRAM_SRC = os.path.join(REPO, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(REPO, ".bench_build", "perfbench")
WORKLOADS = ["read_sql", "table_commits", "llm_index", "stream_windows"]
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for d in (PROGRAM_SRC, BENCH_SRC):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile program + driver into BUILD/classes unless the sources are unchanged."""
    if not os.path.isdir(PROGRAM_SRC):
        sys.exit("perfbench: no program sources next to the benchmark (src/main/scala)")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"compiling {len(files)} Scala sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def run_jvm(classes, jars, root, workload, seconds, trace, cores):
    cmd = ["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={root}/tmp",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main",
            "--workload", workload, "--root", root, "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores)]
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(root, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(root, "spark-local"))
    with open(os.path.join(root, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env, cwd=root)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(root, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: JVM run failed ({rc})")
    with open(os.path.join(root, "out", "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()

    jars = spark_jars()
    t_build = time.time()
    classes = build(jars)
    build_s = time.time() - t_build
    cores = len(os.sched_getaffinity(0))
    load0 = loadavg()

    root = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    for d in ("tmp", "out", "scratch", "spark-local"):
        os.makedirs(os.path.join(root, d))
    try:
        gen.generate(a.workload, a.seed, root)
        res = run_jvm(classes, jars, root, a.workload, a.seconds, a.trace, cores)
        ok, problems, derived = check.check(a.workload, root, res)
    finally:
        if not a.keep:
            shutil.rmtree(root, ignore_errors=True)
    for p in problems[:20]:
        log(f"CHECK FAILED: {p}")

    ops = res["ops"]
    good = [o for o in ops if o["error"] is None]
    for o in ops:
        if o["error"] is not None:
            log(f"op {o['id']} failed: {o['error']}")
    lat = [o["lat_s"] for o in good] or [float("nan")]
    first = res["rounds"][0]
    session_s = res["session_ready_ms"] / 1000.0 - T_START - build_s
    # One cold round per process is what a script using the library pays:
    # set-up runs once, wall_s is the first round's first op to last result.
    e2e = {"setup_s": session_s + first["setup_s"],
           "wall_s": first["wall_s"],
           "op_p50_s": statistics.median(lat)}
    if a.trace and res["layers"]["trace.self_sum_err"] > 0.05:
        ok = False
        log("CHECK FAILED: layer self times do not sum to op wall times within 5%")
    info = {"workload": a.workload, "seed": a.seed, "cores": cores,
            "rounds": len(res["rounds"]), "ops": len(ops),
            "loadavg_start": load0, "loadavg_end": loadavg(),
            "build_s": round(build_s, 3), "session_s": round(session_s, 3),
            "end_to_end": e2e, "workload_metrics": derived, "problems": len(problems)}
    print(json.dumps(info))
    if a.trace:
        layers = dict(res["layers"])
        layers.pop("self_s", None)
        layers.update({f"jvm.{k}": v for k, v in res["jvm"].items()})
        layers.update(derived)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in check.PER_LAYER.items()}
        print(json.dumps({"self_s": res["layers"].get("self_s", {})}))
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": ok, "attempted": len(ops),
                      "failed": len(ops) - len(good), "metrics": metrics}))


if __name__ == "__main__":
    main()
