#!/usr/bin/env python3
"""graft benchmark: build, run one workload, check outputs, print metrics.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload olap_fixture --seed 1 --seconds 20 --trace 0

The first run builds graft and the harness from source with sbt (offline)
and caches the classpath under perfbench/target, keyed by a hash of the
sources. Each run starts one JVM that writes a raw record of the run;
this script turns it into metrics (see metrics.py), prints a report with
the run environment, and prints one JSON object as the last line of
stdout. It exits 1 when an op failed or an output check did not hold,
and 2 when the checkout does not hold the graft sources.
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
sys.path.insert(0, BENCH)

import metrics  # noqa: E402

WORKLOADS = ("olap_fixture", "stream_reconfig")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256(ROOT.encode())
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project"),
            os.path.join(BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = " ".join(
            (["-Dsbt.override.build.repos=true",
              f"-Dsbt.repository.config={repos}"]
             if os.path.isfile(repos) else [])
            + ["-Dsbt.offline=true", "-Xmx2g"])
    return env


def ensure_built():
    """Classpath of the built harness; builds when the sources changed."""
    stamp = source_hash()
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    out = p.stdout.strip().splitlines()
    if p.returncode != 0 or not out or ".jar" not in out[-1]:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        fail("build failed", 1)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + out[-1].strip() + "\n")
    return out[-1].strip()


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def run_jvm(cmd, log_path):
    """Run the harness JVM in its own process group; kill the group if it
    overruns, and always wait for it to end."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=log,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fail", type=int, default=0,
                    help="make the N-th timed op throw (harness self-test)")
    ap.add_argument("--record-expected", action="store_true",
                    help="olap_fixture: rewrite expected/olap_fixture.tsv")
    ap.add_argument("--solo", default="",
                    help="stream_reconfig: run one op alone at a rate that keeps "
                    "it busy; the traced report gives its solo capacity")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}: run from a graft checkout", 2)

    cp = ensure_built()
    cores = len(os.sched_getaffinity(0)) or 1
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    record = os.path.join(work, "record.json")
    jvm_flags = [f"-Xmx{HEAP}", "-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={tmp}",
                 f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
                 "-Dspark.sql.session.timeZone=UTC"]
    jvm_flags += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + jvm_flags + ["-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--out", record, "--work", work, "--cores", str(cores),
           "--data", os.path.join(BENCH, "data", "sf0.01"),
           "--expected", os.path.join(BENCH, "expected", "olap_fixture.tsv"),
           "--inject-fail", str(a.inject_fail),
           "--record", "1" if a.record_expected else "0",
           "--solo", a.solo])
    env_before = load1()
    ticks_before = cpu_ticks()
    launch_ms = time.time() * 1000.0
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    rc = run_jvm(cmd, os.path.join(work, "jvm.log"))
    exit_ms = time.time() * 1000.0
    ticks_after = cpu_ticks()
    env = {"nproc": cores, "load1_before": env_before, "load1_after": load1(),
           "cpu_steal_frac": (ticks_after[0] - ticks_before[0])
           / max(ticks_after[1] - ticks_before[1], 1),
           "git_commit": git_commit(), "source_sha256": source_hash(),
           "jvm_flags": jvm_flags,
           "jvm_flags_short": [f for f in jvm_flags
                               if f != "--add-opens" and "ALL-UNNAMED" not in f]}
    if rc != 0 or not os.path.isfile(record):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness JVM {'timed out' if rc is None else f'exited {rc}'}", 1)
    with open(record) as f:
        rec = json.load(f)
    env["spark_version"] = rec.get("spark_version")
    env["jvm_wall_s"] = (exit_ms - launch_ms) / 1000.0
    env["jvm_exit_after_record_s"] = (exit_ms - rec["end_ms"]) / 1000.0
    res = metrics.summarize(rec, launch_ms)
    res["env"] = env
    for line in metrics.report(res):
        print(line)
    out_dir = os.path.join(BENCH, ".work", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(res, f, indent=1)
    shutil.copy(record, os.path.join(
        out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-record.json"))
    shutil.copy(os.path.join(work, "jvm.log"), os.path.join(
        out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-jvm.log"))
    if a.trace and rec.get("spans_file"):
        shutil.copy(rec["spans_file"], os.path.join(
            out_dir, f"{a.workload}-seed{a.seed}-spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    names = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    line = {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {n: {"value": res["metrics"][n]["value"],
                            "unit": res["metrics"][n]["unit"]} for n in names}}
    print(json.dumps(line))
    sys.exit(0 if res["correct"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
