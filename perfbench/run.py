#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --java-opts "-Xms4g -Xmx4g" --workload clips --seed 7 \
        --seconds 8 --trace 0

--java-opts (heap and GC flags) comes from BENCHMARK.json's command.

Builds the program and the harness from source (perfbench/build.py), then
starts the harness (perfbench.Main): for clips and neardup a prepare JVM
that generates the seeded inputs and the expected results and exits, then a
measure JVM that sets up, runs the workload as a closed loop with one client
for --seconds, and checks every result. Prints a metric table, the run
record and, as the last line, one JSON object: {"correct", "attempted",
"failed", "metrics"}.
--trace 0 reports BENCHMARK.json's end-to-end metrics, --trace 1 its
per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

with open(os.path.join(build.ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = tuple(w["name"] for w in BENCH["workloads"])
END_TO_END = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCH["per_layer"]}

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for f in ("--add-opens", p + "=ALL-UNNAMED")]

RUN_LIMIT_S = 170  # the harness is killed past this, counted from the start; the run then fails


def cpu_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return sum(v[:8]), v[4], v[7]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "source-sha256:" + build.stamp(build.sources("src/main/scala"), "")[:16]


def run_harness(cmd, cwd, log_path, deadline):
    """Runs the harness until `deadline` (time.time()); returns (exit status,
    stdout text, peak RSS MB)."""
    with open(log_path, "w") as log, open(log_path + ".out", "w+") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=log,
                                start_new_session=True)
        timer = threading.Timer(max(0.0, deadline - time.time()),
                                lambda: os.killpg(proc.pid, signal.SIGKILL))
        timer.start()
        try:
            _, status, ru = os.wait4(proc.pid, 0)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            os.waitpid(proc.pid, 0)
            raise
        finally:
            timer.cancel()
        proc.returncode = os.waitstatus_to_exitcode(status)
        out.seek(0)
        return proc.returncode, out.read(), ru.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--java-opts", required=True,
                    help="heap and GC flags of the harness JVMs and of CLI children")
    ap.add_argument("--inject", default="",
                    help="self-test fault: drop_row | flip_doc | deep_doc | merge_clusters | throw")
    ap.add_argument("--sweep", action="store_true",
                    help="clips local[1]/[2]/[4] traced sweep for the docs")
    a = ap.parse_args()
    # a terminated run stops its harness JVMs too (see run_harness)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        program_cp, harness_dir = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    n = cores()
    java_opts = a.java_opts.split()
    work = os.path.join(build.BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    sysprops = ["-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
                f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}"]
    child_opts = java_opts + ADD_OPENS + sysprops
    cmd = [build.java_bin()] + child_opts + [
        "-cp", os.pathsep.join([harness_dir, program_cp]), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--cores", str(n),
        "--inject", a.inject, "--sweep", "1" if a.sweep else "0",
        "--java-opts", " ".join(child_opts), "--program-cp", program_cp,
        "--harness-cp", harness_dir]
    jif0 = cpu_jiffies()
    t0 = time.time()
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    # clips and neardup run in the measure JVM, so their inputs and expected
    # results come from a prepare JVM that has exited; json_cli's work runs
    # in CLI children
    for phase in ("measure",) if a.workload == "json_cli" else ("prepare", "measure"):
        log_path = os.path.join(logs, f"{a.workload}-{a.seed}-{a.trace}-{phase}.log")
        rc, out, rss = run_harness(cmd + ["--phase", phase], work, log_path,
                                   t0 + RUN_LIMIT_S)
        if rc != 0:
            break
    jif1 = cpu_jiffies()
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if rc != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: harness {phase} failed (exit {rc}); log {log_path}", file=sys.stderr)
        return 1
    h = json.loads(lines[-1])
    shutil.rmtree(work, ignore_errors=True)
    if a.sweep:
        print(json.dumps(h, indent=1))
        return 0

    total = max(1, jif1[0] - jif0[0])
    hm = h["metrics"]
    attempted, failed = h["attempted"], h["failed"]
    measured = {k: (m["value"], m["unit"], m["samples"]) for k, m in hm.items()}
    # the measure JVM ran clips and neardup; json_cli ran in CLI children
    measured["peak_rss_mb"] = (
        h["child_peak_rss_mb"] if a.workload == "json_cli" else rss, "MB", 1)
    metrics = {}
    for k, unit in (PER_LAYER if a.trace else END_TO_END).items():
        # a traced run prints 0 for a layer this workload never enters
        m = measured.get(k) if a.trace == 0 or k in hm else (0.0, unit, 0)
        if m is None or m[1] != unit:
            print(f"perfbench: harness reports {k} as {m}, BENCHMARK.json wants {unit}",
                  file=sys.stderr)
            return 1
        metrics[k] = m
    record = dict(h["record"], workload=a.workload, seed=a.seed, trace=a.trace,
                  commit=commit(), nproc=n, jvm_flags=" ".join(java_opts),
                  run_wall_s=round(time.time() - t0, 3),
                  cpu_steal_share=(jif1[2] - jif0[2]) / total,
                  cpu_iowait_share=(jif1[1] - jif0[1]) / total,
                  known_failed=h["known_failed"])
    fail_ratio = failed / attempted if attempted else 1.0
    print(f"{'metric':28} {'value':>16} {'unit':8} samples")
    for k, (v, u, s) in metrics.items():
        print(f"{k:28} {v:16.6g} {u:8} {s}")
    print(f"{'fail_ratio':28} {fail_ratio:16.6g} {'ratio':8} {attempted}")
    print("record " + json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": failed - h["known_failed"] == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
