#!/usr/bin/env python3
"""graft's benchmark: one command, one workload, one seeded run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --fs-check

Run from the repository root. The first run in a checkout builds the
engine from `src/main` together with the harness under `perfbench/src`
(sbt, offline); later runs reuse the build while the sources are
unchanged. The run itself is one JVM (`graft.perfbench.Main`) with
Spark as local[nproc]; its report goes to stdout, and its last line is
the JSON result. Spark's own log goes to `.perfbench_out/`.

`--fs-check` instead shows that the traced run's counting FileSystem
leaves answers and plans unchanged (graft.perfbench.FsCheck).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ["medallion_daily", "analytics_mix"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(out_dir):
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(HERE, "target", "perfbench-classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    log = os.path.join(out_dir, "build.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"build timed out; see {log}")
    with open(log) as fh:
        tail = fh.read().splitlines()
    cp = next((l for l in reversed(tail) if "scala-2.13/classes" in l and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        fail(f"build failed (rc={rc}); see {log}")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def java(cp, work, main_class, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, main_class] + args)


def fs_check(out_dir, cp):
    work = os.path.join(ROOT, ".perfbench_work", "fs-check")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(out_dir, "fs-check.log"), "w") as err:
        rc = subprocess.run(java(cp, work, "graft.perfbench.FsCheck", [work]),
                            cwd=ROOT, stderr=err, timeout=RUN_TIMEOUT_S).returncode
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


def cpu_times():
    """Host CPU time (jiffies) as (all, steal) from /proc/stat, or None
    where there is no /proc."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:9]]
        return sum(v), v[7]
    except (OSError, ValueError, IndexError):
        return None


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1
            and isinstance(r["failed"], int) and isinstance(r["metrics"], dict) and r["metrics"])


def check_environment():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("needs sbt and java on PATH")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("needs SPARK_HOME set to a Spark install (its jars/ are the engine's classpath)")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    return out_dir


def main():
    if sys.argv[1:] == ["--fs-check"]:
        out_dir = check_environment()
        fs_check(out_dir, build(out_dir))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    out_dir = check_environment()
    cp = build(out_dir)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(ROOT, ".perfbench_work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cpu0 = cpu_times()
    t0_ms = int(time.time() * 1000)
    cmd = java(cp, work, "graft.perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--out", out_dir,
        "--t0-ms", str(t0_ms), "--cores", str(cores)])
    log = os.path.join(out_dir, f"{tag}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)

        def stop(signum, _frame):  # never leave the JVM behind
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log}", 3)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if p.returncode != 0 or not lines or not valid_result(lines[-1]):
        sys.stdout.write("\n".join(lines[:-1] if lines else []) + "\n")
        fail(f"run failed (rc={p.returncode}); see {log}", 1)
    # Reported, not acted on: time the hypervisor gave the host's CPUs to
    # other guests. On a shared VM it is what most moves one run's
    # timings against another's.
    cpu1 = cpu_times()
    if cpu0 and cpu1 and cpu1[0] > cpu0[0]:
        steal = (cpu1[1] - cpu0[1]) / (cpu1[0] - cpu0[0])
        lines.insert(-1, f"host cpu steal during the run: {100 * steal:.1f}% of CPU time")
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
