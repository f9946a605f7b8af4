#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the library
and the benchmark with sbt and records the runtime class path in the
build directory ($CARGO_TARGET_DIR or .bench_build) with a hash of the
checkout's path and of every build file and main source; a later run
whose hash matches the last build starts the JVM straight from that
class path, and any source change (or another checkout) builds again.
The JVM runs one workload at local[nproc], checks every output and
writes a JSON artifact (metrics, per-layer numbers, input properties,
spans when traced). This script adds the host load average at start and
end of the run, prints every metric by name with its unit on stderr, and
prints one JSON result line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end_to_end metrics of BENCHMARK.json, --trace 1
the per_layer ones. Exits non-zero without a result line when the
checkout has no graft sources, the build fails, or the run fails.
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
ROOT = os.getcwd()
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

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


def run_group(cmd, cwd, timeout, out_path, env=None):
    """Run cmd in its own process group, output to out_path; kill the
    whole group on timeout and always wait for it."""
    with open(out_path, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def cpu_times():
    """(steal, total) jiffies of all CPUs since boot, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def source_stamp():
    """Hash of the checkout's path and of every file the runtime class
    path is built from: both builds' build.sbt and project/ files, and
    the library's and the benchmark's src/main trees. sbt compiles into
    the checkout's own target/ dirs, so a class path is only valid for
    the checkout and sources it was built from."""
    h = hashlib.sha256(ROOT.encode())
    files = []
    for base in (ROOT, HERE):
        files.append(os.path.join(base, "build.sbt"))
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            files += [os.path.join(proj, n) for n in os.listdir(proj)
                      if os.path.isfile(os.path.join(proj, n))]
        for d, dirs, names in os.walk(os.path.join(base, "src", "main")):
            dirs.sort()
            files += [os.path.join(d, n) for n in names]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:24]


def build(build_dir):
    """sbt compile of library + benchmark unless the last build recorded
    in build_dir was of this checkout with these sources (the classes
    on disk are those of the last build); returns the runtime class
    path."""
    stamp = source_stamp()
    record = os.path.join(build_dir, "build.json")
    try:
        with open(record) as f:
            last = json.load(f)
        cp = last["classpath"]
        if last["stamp"] == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    except (OSError, ValueError, KeyError, TypeError):
        pass
    sbt = shutil.which("sbt")
    if sbt is None:
        log("sbt not found on PATH")
        sys.exit(2)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    build_log = os.path.join(build_dir, "build.log")
    log("building library and benchmark (new checkout or changed sources)")
    t0 = time.time()
    rc = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                   HERE, BUILD_TIMEOUT_S, build_log, env)
    if rc != 0:
        log(f"build failed (rc={rc}); log tail:\n{tail(build_log)}")
        sys.exit(3)
    cands = [l for l in open(build_log, errors="replace").read().splitlines()
             if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if not cands:
        log(f"build produced no class path; log tail:\n{tail(build_log)}")
        sys.exit(3)
    cp = cands[-1].strip()
    with open(record, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_path):
        log("no BENCHMARK.json here: run from the root of a graft checkout")
        sys.exit(2)
    with open(bench_path) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    names = {w["name"] for w in bench["workloads"]}
    if a.workload not in names:
        log(f"unknown workload {a.workload}; known: {sorted(names)}")
        sys.exit(2)
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} missing: the checkout holds no graft sources to benchmark")
            sys.exit(2)

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(os.path.join(build_dir, "out"), exist_ok=True)
    cp = build(build_dir)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(build_dir, "out", f"{tag}.json")
    jvm_log = os.path.join(build_dir, "out", f"{tag}.log")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", out,
    ]
    load0 = os.getloadavg()
    cpu0 = cpu_times()
    t0 = time.time()
    try:
        rc = run_group(cmd, work, RUN_TIMEOUT_S, jvm_log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load1 = os.getloadavg()
    cpu1 = cpu_times()
    if rc != 0 or not os.path.exists(out):
        log(f"run failed (rc={rc}); log tail:\n{tail(jvm_log)}")
        sys.exit(1)
    with open(out) as f:
        art = json.load(f)
    art["wall_s"] = time.time() - t0
    art["loadavg"] = {"start": list(load0), "end": list(load1)}
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        # share of CPU time the hypervisor took from this host during the run
        art["cpu_steal_frac"] = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
    art["spec"] = {"workload": spec["workloads"][a.workload],
                   "metrics": spec["end_to_end"], "per_layer": spec["per_layer"]}
    with open(out, "w") as f:
        json.dump(art, f, indent=1)

    wanted = bench["end_to_end"] if a.trace == 0 else bench["per_layer"]
    source = art["metrics"] if a.trace == 0 else art["per_layer"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        on = spec["per_layer"].get(m["name"], {}).get("on", [a.workload])
        if v is None and a.trace == 1 and a.workload not in on:
            v = 0.0  # this workload does not exercise the layer
        if not isinstance(v, (int, float)) or v != v:
            log(f"metric {m['name']} missing from the run artifact {out}")
            sys.exit(1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    log(f"{a.workload} seed={a.seed} trace={a.trace} attempted={art['attempted']} "
        f"failed={art['failed']} failed_frac={art['failed_frac']:.4f} "
        f"load {load0[0]:.2f}->{load1[0]:.2f} steal {art.get('cpu_steal_frac', 0):.3f}")
    for k, v in metrics.items():
        log(f"  {k} = {v['value']:.6g} {v['unit']}")
    if a.trace == 1:
        for k, v in art["per_layer"].items():
            if k not in metrics:
                unit = spec["per_layer"].get(k, {}).get("unit", "")
                log(f"  {k} = {v:.6g} {unit}")
    if a.trace == 0:
        for k, v in art["metrics"].items():
            if k not in metrics:
                unit = spec["end_to_end"].get(k, {}).get("unit", "")
                log(f"  {k} = {v:.6g} {unit} (not gated)")
        for k, v in art["report"].items():
            log(f"  {k} = {json.dumps(v)}")
    for msg in art.get("check_failures", []):
        log(f"  check failed: {msg}")
    log(f"  artifact: {out}")
    print(json.dumps({"correct": bool(art["correct"]), "attempted": int(art["attempted"]),
                      "failed": int(art["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
