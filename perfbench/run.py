#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark harness from source on first use (sbt,
offline), runs the workload in one JVM, records host-regime evidence (CPU
steal, load average, CPU busy outside the benchmark) beside the result, and
prints the result object as the last line of standard output. Exits non-zero
when the build fails, a correctness check fails, or an operation fails.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("gateway_ingest", "stream_backfill", "query_sweep")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            for f in fs:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def source_stamp():
    h = hashlib.sha256()
    for p in sorted(source_files()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classes_dir():
    return os.path.join(HERE, "target", "scala-2.13", "classes")


def build():
    """Compile engine + harness with sbt unless the classes match the sources."""
    stamp = source_stamp()
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.isdir(classes_dir()) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
            f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    log("building engine and harness from source (sbt compile)")
    t0 = time.time()
    sbt = shutil.which("sbt") or "/opt/sbt/bin/sbt"
    p = subprocess.run([sbt, "--batch", *opts, "compile"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    # the new classes may generate other inputs than those cached under
    # .work (the query_sweep dataset), so the cache goes with the old build
    shutil.rmtree(os.path.join(HERE, ".work"), ignore_errors=True)
    log(f"built in {time.time() - t0:.1f} s")


def java_cmd(work):
    """The JVM command line for perfbench.Main, scratch files under `work`."""
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    return ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", f"{classes_dir()}:{spark_jars}/*", "perfbench.Main",
            "--work", work]


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    total = sum(v[:8])
    idle = v[3] + v[4]
    return total, idle, v[7]


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def regime(before, after, child_cpu_s, load_in, load_out):
    """Host evidence for one run: steal %, load, and busy CPU outside it."""
    dt = max(1, after[0] - before[0])
    busy = dt - (after[1] - before[1]) - (after[2] - before[2])
    tick = os.sysconf("SC_CLK_TCK")
    return {
        "steal_pct": round(100.0 * (after[2] - before[2]) / dt, 3),
        "busy_pct": round(100.0 * busy / dt, 3),
        "external_busy_pct": round(max(0.0, 100.0 * (busy - child_cpu_s * tick) / dt), 3),
        "loadavg_in": load_in,
        "loadavg_out": load_out,
        "cpus": os.cpu_count(),
    }


def tracing_overhead(out, stem):
    """Traced over untraced end-to-end figures of the same workload and
    seed, as a share (0.05 = the traced run read 5% higher); None until
    both runs exist. Written beside the traced run's detail."""
    try:
        plain = json.load(open(os.path.join(out, f"{stem}-t0.json")))["end_to_end"]
        traced = json.load(open(os.path.join(out, f"{stem}-t1.json")))["end_to_end"]
    except (OSError, KeyError, ValueError):
        return None
    over = {k: round(traced[k] / plain[k] - 1, 4) for k in plain if k in traced and plain[k]}
    with open(os.path.join(out, f"{stem}-overhead.json"), "w") as f:
        json.dump(over, f)
    return over


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources (src/main/scala) not found next to perfbench/")
    build()

    work = os.path.join(HERE, ".work", a.workload)
    out = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"

    cmd = java_cmd(work) + [
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--out", out,
           "--expected", os.path.join(HERE, "expected", "query_sweep.json")]

    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    st0, load0 = cpu_times(), loadavg()
    with open(os.path.join(out, f"{tag}.log"), "wb") as errlog:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=errlog, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"workload did not finish within {RUN_TIMEOUT_S} s")
    st1, load1 = cpu_times(), loadavg()
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    child_cpu = (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime)
    shutil.rmtree(work, ignore_errors=True)

    lines = stdout.decode(errors="replace").strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except Exception:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        raise SystemExit(f"workload exited {p.returncode} without a result; see perfbench/out/{tag}.log")

    reg = regime(st0, st1, child_cpu, load0, load1)
    with open(os.path.join(out, f"{tag}-regime.json"), "w") as f:
        json.dump(reg, f)
    print("regime " + json.dumps(reg))
    detail = os.path.join(out, f"{tag}.json")
    if os.path.exists(detail):
        print("detail " + detail)
    if a.trace:
        over = tracing_overhead(out, f"{a.workload}-s{a.seed}")
        if over:
            print("tracing_overhead " + json.dumps(over))
    print(json.dumps(result), flush=True)
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
