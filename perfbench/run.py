"""perfbench: seeded end-to-end benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness from source
with sbt (once per source state), generates the workload's inputs from the
seed (cached per seed), runs the workload in one JVM with one local
SparkSession, and prints a context line and then, as the last line of
stdout, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Build output, inputs, logs and traces go to .bench_build/.
See perfbench/README.md.
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
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("panel_forecast", "corpus_dedup_search")
MAX_CORES = 4
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
INPUTS_KEPT = 6
# the JDK 17 module openings Spark needs outside spark-submit (as in build.sbt)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    stamp = source_stamp()
    bdir = os.path.join(OUT, "build")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    default_opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        default_opts = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                        + default_opts)
    env.setdefault("SBT_OPTS", default_opts)
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "export Runtime/fullClasspath"], cwd=HERE, env=env,
                               stdout=subprocess.PIPE, stderr=lf, text=True,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(log, "a") as lf:
        lf.write(p.stdout)
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed; see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def inputs(workload, seed, files):
    """Generate (or reuse) the seeded inputs; keep only the newest few."""
    base = os.path.join(OUT, "inputs")
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        generator = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(base, f"{workload}-seed{seed}-files{files}-{generator}")
    if not os.path.exists(os.path.join(d, "manifest.json")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
                        "--seed", str(seed), "--out", d, "--files", str(files)], check=True)
    os.utime(d)
    kept = sorted((os.path.join(base, n) for n in os.listdir(base)),
                  key=os.path.getmtime, reverse=True)
    for old in kept[INPUTS_KEPT:]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        die("no java found")
    return exe


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(ROOT, "build.sbt"))):
        die("run from the root of a graft checkout: the engine sources are missing")
    if os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES"):
        die("SPARK_GRAFT_MAX_PARTITION_BYTES is set; scan parallelism must come from "
            "the input layout, so unset it")

    classpath = build()
    nproc = os.cpu_count() or 1
    cores = min(nproc, MAX_CORES)
    t_gen = time.monotonic()
    input_dir = inputs(a.workload, a.seed, max(nproc, MAX_CORES))
    gen_seconds = time.monotonic() - t_gen

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", run_id)
    logs = os.path.join(OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    context_file = os.path.join(work, "context.json")
    trace_file = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = [java()] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--input", input_dir, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores), "--work", work,
        "--trace-file", trace_file, "--result", result_file, "--context", context_file]
    os.makedirs(work, exist_ok=True)
    log = os.path.join(logs, f"{run_id}.log")
    budget = max(30.0, JVM_TIMEOUT_S - (time.monotonic() - started))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=work))
        try:
            code = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"the benchmark JVM ran past {budget:.0f} s; see {log}")
    if code != 0 or not os.path.exists(result_file):
        die(f"the benchmark JVM failed with exit code {code}; see {log}")
    with open(context_file) as f:
        context = json.load(f)
    with open(result_file) as f:
        result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    context.update({"seed": a.seed, "trace": a.trace, "input_dir": input_dir,
                    "input_generation_s": gen_seconds, "log": log})
    print(json.dumps({"context": context}, sort_keys=True))
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
