#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload index_rw --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the product (`sbt compile` at the root)
and the benchmark package (`perfbench/build.sbt`); later runs reuse the
build while the sources are unchanged. The workload then runs in one JVM
on `local[k]`, k = min(4, nproc). The last stdout line is the result:
`{"correct", "attempted", "failed", "metrics"}`, with the end-to-end
metrics when `--trace 0` and the per-layer metrics when `--trace 1`. The
line before it carries the host state and the workload's detail figures.
Exits non-zero, without a result line, when the product is not there.
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
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("llm_pipeline", "index_rw")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_state():
    """nproc, the load averages, CPU time stolen by the hypervisor so far
    (seconds, summed over CPUs) and the number of running JVMs."""
    try:
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        load, steal = [], None
    jvms = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    jvms += f.read().strip() == "java"
            except OSError:
                pass
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": load,
            "steal_s": steal, "jvms": jvms}


def source_stamp():
    """Hash of every input of the build: product and benchmark sources."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for path in files:
        if os.path.isfile(path):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt(args, cwd, log):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true"] + args
    with open(log, "a") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=out, stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=BUILD_LIMIT_S)
        except BaseException:
            stop(p)
            raise
        out.write(stdout)
    if p.returncode != 0:
        fail(f"build failed: sbt {' '.join(args)} (log: {log})")
    return stdout


def exported(out):
    """The classpath line `sbt export` printed: its last unprefixed line."""
    return [l for l in out.splitlines() if l.strip() and not l.startswith("[")][-1].strip()


def build():
    """Compile product and benchmark once per source state; return the classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log = os.path.join(WORK, "build.log")
    # the product's classpath is the benchmark package's compile input
    product = exported(sbt(["compile", "export Runtime/fullClasspath"], ROOT, log))
    with open(os.path.join(WORK, "product-classpath"), "w") as f:
        f.write(product)
    cp = exported(sbt(["compile", "export Runtime/fullClasspath"], HERE, log))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def stop(p):
    """Kill a child's whole process group and wait for it."""
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    p.wait()


def main():
    # a SIGTERM unwinds like an error, so the JVM or sbt child is killed
    # and waited for, and the scratch directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}: nothing to benchmark")
    cp = build()
    t_start = time.time()  # the run limit counts from here; a build may take longer

    host_start = host_state()
    cores = max(1, min(4, host_start["nproc"]))
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    spans = os.path.join(WORK, f"spans-{a.workload}-{a.seed}.json")
    log = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{a.trace}.log")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for m in JVM_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work-dir", work, "--out", out, "--spans-out", spans,
              "--cores", str(cores),
              "--expected-dir", os.path.join(HERE, "expected")])
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                stop(p)
                fail(f"{a.workload} did not finish in time (log: {log})")
            except BaseException:
                stop(p)
                raise
        if p.returncode != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"{a.workload} exited with {p.returncode} (log: {log})")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host = {"start": host_start, "end": host_state(), "cores": cores}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "host": host, "detail": res["detail"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
