#!/usr/bin/env python3
"""Launcher of the graft benchmark.

    python3 perfbench/run.py --workload ann_serve --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-test

Builds graft and the benchmark from source (perfbench/build.py), then
runs one workload in one JVM on a local[nproc] Spark session. The last
line of stdout is the result object; the line before it records the
host. The run record, the JVM log and (traced) the spans land under
.bench_build/perfbench/runs/. Exits non-zero without a result when the
build or the run fails, and with the result when an output check failed.
"""
import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ann_serve", "text_dedup")
RUN_LIMIT_S = 170  # a run must end within 180 s once built
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def mem_total_kib():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def driver_heap():
    """Half of MemTotal, clamped to 2..8 GiB (the repo's test command's rule)."""
    kib = mem_total_kib()
    g = 2 if kib is None else min(8, max(2, kib // 2097152))
    return f"{g}g"


def cpu_model():
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or None


def cpu_ticks():
    """(busy, steal) clock ticks of all CPUs so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:3]) + sum(v[5:7]), v[7] if len(v) > 7 else 0
    except (OSError, ValueError):
        return 0, 0


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def jvm(classpath, main, args, work, log, timeout):
    cmd = [build.java_bin(), "-XX:-UsePerfData", f"-Xmx{driver_heap()}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    cmd += ["-cp", os.pathsep.join(classpath), main] + args
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except BaseException:  # the time limit, or the launcher being stopped
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, out


def tail(path, n=30):
    try:
        return "".join(Path(path).read_text(errors="replace").splitlines(True)[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        classpath = build.build(with_tests=a.self_test)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    runs = build.OUT / "runs"
    work = build.OUT / "work" / str(os.getpid())
    runs.mkdir(parents=True, exist_ok=True)
    try:
        if a.self_test:
            log = runs / "self-test.log"
            code, out = jvm(classpath, "graftbench.BenchLogicTest", [], work, log, 600)
            sys.stdout.write(out)
            if code != 0:
                sys.stderr.write(tail(log))
            return code

        host = {
            "nproc": len(os.sched_getaffinity(0)),
            "mem_total_kib": mem_total_kib(),
            "driver_heap": driver_heap(),
            "cpu_model": cpu_model(),
            "git_sha": git_sha(),
        }
        log = runs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--cores", str(host["nproc"]), "--out", str(runs),
                "--work", str(work)]
        t0 = time.monotonic()
        busy0, steal0 = cpu_ticks()
        try:
            code, out = jvm(classpath, "graftbench.Main", args, work, log, RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] run exceeded {RUN_LIMIT_S}s; log: {log}", file=sys.stderr)
            return 3
        lines = [l for l in out.splitlines() if l.strip()]
        try:
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
        except (IndexError, ValueError, AssertionError):
            print(f"[perfbench] no result from the run (exit {code}); log tail:\n{tail(log)}",
                  file=sys.stderr)
            return code or 4
        host["run_s"] = round(time.monotonic() - t0, 3)
        busy1, steal1 = cpu_ticks()
        tick = os.sysconf("SC_CLK_TCK")
        host["host_busy_s"] = round((busy1 - busy0) / tick, 2)
        host["steal_s"] = round((steal1 - steal0) / tick, 2)
        record = runs / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
        try:
            rec = json.loads(record.read_text())
            rec["host"] = host
            record.write_text(json.dumps(rec, indent=1))
        except (OSError, ValueError):
            pass
        print(json.dumps({"host": host}))
        print(json.dumps(result))
        if code != 0 or not result["correct"]:
            print(f"[perfbench] output checks failed; see {record}", file=sys.stderr)
            return code or 1
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # a stopped launcher stops its JVM (jvm() kills it on the way out)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
