#!/usr/bin/env python3
"""graft benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run compiles the harness in
perfbench/ against the repository's main sources with sbt (offline); later
runs reuse the compiled classpath until a source file changes. The harness
runs in its own JVM with Spark local[4]. Its run record (every sample with
its start offset, checks, spans when traced, and the host-interference
record taken here) is written under .bench_build/runs/.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). A failed correctness check exits non-zero.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve", "batch", "ingest")
RUN_LIMIT_S = 170.0  # a run must end within 180 s

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash():
    """Hash of everything the compiled harness depends on."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(deadline):
    """Compiles the harness if its sources changed. Returns its classpath
    (jars)."""
    h = source_hash()
    stamp = os.path.join(BUILD, f"classpath-{h}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("compiling the harness and the repository's main sources (sbt, offline)")
    t0 = time.time()
    out = run_child([sbt, "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspathAsJars"],
                    cwd=BENCH, env=env, timeout=max(10.0, deadline - time.time()),
                    log_path=os.path.join(BUILD, "sbt.log"))
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or "error" in lines[-1].lower() or ".jar" not in lines[-1]:
        fail("harness build failed; see .bench_build/sbt.log")
    cp = lines[-1].strip()
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(stamp, "w") as fh:
        fh.write(cp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, work):
    """The harness JVM: the program's G1 settings, a 3 GiB heap."""
    cmd = [shutil.which("java"), "-Xmx3g", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=100",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main"]


def run_child(cmd, cwd, env, timeout, log_path):
    """Runs `cmd` in its own process group, its output to `log_path`;
    kills the whole group on timeout and waits for it. Returns stdout."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=logf, stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            fail(f"{os.path.basename(cmd[0])} exceeded {timeout:.0f} s; killed (log: {log_path})")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        logf.write(out)
    if p.returncode != 0:
        tail = open(log_path).read()[-3000:]
        fail(f"{os.path.basename(cmd[0])} exited {p.returncode}; log tail:\n{tail}")
    return out


def cpu_times():
    """Aggregate jiffies from /proc/stat: (total, iowait, steal)."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f), f[4], f[7] if len(f) > 7 else 0
    except (OSError, ValueError, IndexError):
        return 0, 0, 0


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        return []


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0,
                    help="tiny sizes, for the benchmark's own tests")
    a = ap.parse_args()
    start = time.time()
    deadline = start + RUN_LIMIT_S

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isfile(spec_path):
        fail(f"{ROOT} is not a graft checkout (needs build.sbt, src/main/scala and BENCHMARK.json)")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if shutil.which("java") is None:
        fail("java not found on PATH")
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    t_build = time.time()
    cp = build(start + 700.0)
    deadline += time.time() - t_build  # a run that compiles gets the build time on top

    tag = f"{a.workload}-s{a.seed}-t{a.trace}{'-smoke' if a.smoke else ''}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    record_path = os.path.join(BUILD, "runs", f"{tag}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if os.path.exists(record_path):
        os.remove(record_path)
    cmd = java_cmd(cp, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--smoke", str(a.smoke), "--out", record_path,
        "--work", work]
    load0, cpu0, t0 = loadavg(), cpu_times(), time.time()
    try:
        run_child(cmd, cwd=ROOT, env=dict(os.environ, SPARK_LOCAL_IP="127.0.0.1"),
                  timeout=max(10.0, deadline - time.time()),
                  log_path=os.path.join(BUILD, "runs", f"{tag}.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cpu1, load1 = cpu_times(), loadavg()
    if not os.path.isfile(record_path):
        fail("the harness wrote no run record")
    with open(record_path) as fh:
        rec = json.load(fh)

    jiffies = max(1, cpu1[0] - cpu0[0])
    rec["host"] = {
        "wall_s": time.time() - t0, "loadavg_before": load0, "loadavg_after": load1,
        "iowait_pct": 100.0 * (cpu1[1] - cpu0[1]) / jiffies,
        "steal_pct": 100.0 * (cpu1[2] - cpu0[2]) / jiffies,
        "nproc": os.cpu_count(),
    }
    with open(record_path, "w") as fh:
        json.dump(rec, fh)

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in names:
        got = rec["metrics"].get(m["name"])
        if got is None:
            if not a.trace:
                missing.append(m["name"])
                continue
            got = {"value": 0.0, "unit": m["unit"]}  # layer not exercised by this workload
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
        if got["unit"] != m["unit"]:
            log(f"unit mismatch for {m['name']}: harness {got['unit']}, spec {m['unit']}")
            missing.append(m["name"])
    for c in rec["checks"]:
        if not c["ok"]:
            log(f"check failed: {c['name']}: {c['detail']}")
    if missing:
        log(f"metrics not produced: {', '.join(missing)}")
    correct = bool(rec["correct"]) and not missing and all(
        isinstance(v["value"], (int, float)) for v in metrics.values())
    h = rec["host"]
    log(f"{tag}: {rec['attempted']} ops, {rec['failed']} failed, wall {h['wall_s']:.1f} s, "
        f"load {h['loadavg_before']} -> {h['loadavg_after']}, steal {h['steal_pct']:.2f}%, "
        f"iowait {h['iowait_pct']:.2f}%; record {os.path.relpath(record_path, ROOT)}")
    for k, v in metrics.items():
        print(f"{k} {v['value']} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
