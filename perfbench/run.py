#!/usr/bin/env python3
"""Run one graft benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds graft and the harness from source with sbt when the sources changed
since the last build (the first run in a checkout), then runs
`graftbench.Main` in one JVM and relays its output. The last stdout line is
the result JSON. Everything the run writes stays under the checkout:
`.bench_build/` (build stamp and classpath), `perfbench/target/` (classes)
and `.bench_work/` (inputs, Spark scratch and the run artifacts).
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170

ADD_OPENS = os.path.join(HERE, "jvm-add-opens.txt")  # Spark's JDK 17 module opens


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
    return env


def build():
    """Compile with sbt if the sources changed; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=850)
    cp = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not cp:
        sys.stderr.write(out.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--record")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        sys.exit("perfbench: graft's sources (src/main/scala/graft) are not in this checkout")
    classpath = build()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    with open(ADD_OPENS) as f:
        opens = [l.strip() for l in f if l.strip()]
    cmd = [java] + [x for p in opens for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
        "-Djava.io.tmpdir=" + tmp,
        "-cp", classpath, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace]
    if a.record is not None:
        cmd += ["--record", a.record]
    # scratch locations come from the harness, inside the checkout
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "GRAFT_LOCAL_DIR")}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL, start_new_session=True)

    def stop(signum, _frame):
        # the JVM runs in its own process group: take it down with us
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    sys.exit(code)


if __name__ == "__main__":
    main()
