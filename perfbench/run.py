#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds graft and the harness from the checkout (perfbench/build.py), then
runs perfbench.Main in one JVM at local[N], N = min(nproc, 4). The JVM sets
up three times (their median plus the warm-up is setup_s), warms up, runs the workload's op
back to back for S seconds, checks every op's output and writes a run
record; this script turns the record into metrics. With --trace 0 the last
stdout line carries the end-to-end metrics, with --trace 1 the per-layer
ones. Everything the run writes lives under one scratch root inside the
build directory, deleted on exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import report  # noqa: E402

WORKLOADS = ["sbbf_build_probe", "grouped_sketch_agg", "text_dedup", "stream_windowed"]
RUN_LIMIT_S = 170  # a run must end within 180 s
OVERHEAD_S = 120  # set-ups, warm-up, final checks and the traced run's layer probes
HEAP = "2g"
SHM = "/dev/shm"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def task_threads():
    return min(len(os.sched_getaffinity(0)), 4)


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def shm_used_bytes():
    st = os.statvfs(SHM)
    return (st.f_blocks - st.f_bfree) * st.f_frsize


def fs_type(path):
    """Filesystem type of the mount holding `path`, from /proc/mounts."""
    best, kind = "", "unknown"
    path = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, typ = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def git_commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none (not a git checkout)"
    except (OSError, subprocess.TimeoutExpired):
        return "none (git unavailable)"


def jvm_command(classes, main_args, scratch):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    return ([build.java(), *opens, "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC",
             "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"), "-cp", cp, "perfbench.Main"]
            + main_args)


def run_jvm(cmd, scratch, deadline):
    """Run the JVM with its output in a log under the scratch root; on
    failure or timeout show the log's tail and raise."""
    log_path = os.path.join(scratch, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise RuntimeError(f"benchmark JVM failed ({rc})")


def print_report(rec, args, digest, scratch_kind, shm, metrics):
    w = sys.stdout.write
    w(f"host: nproc={len(os.sched_getaffinity(0))} mem_total_kb={mem_total_kb()} "
      f"task_threads={rec['threads']} jvm={rec['jvm']} spark={rec['spark']} "
      f"commit={git_commit()} sources={digest[:16]} seed={args.seed}\n")
    w("host: numbers compare only with runs on this same host, never with other hosts' "
      "records (e.g. the local[32] BENCH_r01-r07)\n")
    w(f"scratch: one root per run in the build directory on {scratch_kind}; deleted on exit; "
      f"/dev/shm used {shm[0]} bytes before, {shm[1]} after\n")
    w(f"workload: {args.workload} closed loop, 1 client, local[{rec['threads']}], "
      f"{args.seconds} s timed; " + " ".join(f"{k}={v}" for k, v in rec["sizes"].items()) + "\n")
    w(f"input digest: {rec['digest']}\n")
    setups = " ".join(f"{x:.3f}" for x in rec["setup_s"])
    w(f"setup: median of {len(rec['setup_s'])} set-ups ({setups} s) "
      f"+ one warm-up ({rec['warmup_s']:.3f} s)\n")
    for name, value, unit, note in report.named(rec):
        w(f"metric {name} = {value:.6g} {unit}" + (f" ({note})" if note else "") + "\n")
    op = rec["samples"][rec["op_samples"]]
    _, pct, n = report.tail(op)
    w(f"op samples: '{rec['op_samples']}', n={n}; op_tail_ms is p{pct:.1f} "
      f"({report.TAIL_BEYOND} samples beyond it)\n")
    ratio = rec["failed"] / rec["attempted"]
    w(f"metric failed_ops_ratio = {ratio:.6g} ({rec['failed']} of {rec['attempted']} ops)\n")
    for f in rec["failures"][:20]:
        w(f"FAILED: {f}\n")
    units = dict(report.END_TO_END, **report.PER_LAYER)
    for name, value in metrics.items():
        w(f"metric {name} = {value:.6g} {units[name][0]}\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    try:
        classes, digest = build.build()
    except build.BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + min(RUN_LIMIT_S, args.seconds + OVERHEAD_S)

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    shm_before = shm_used_bytes()
    scratch = os.path.join(build.build_dir(), "scratch", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    scratch_kind = fs_type(scratch)
    try:
        out = os.path.join(scratch, "run.json")
        run_jvm(jvm_command(classes, [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--threads", str(task_threads()), "--scratch", scratch, "--out", out], scratch),
            scratch, deadline)
        with open(out) as f:
            rec = json.load(f)
    except RuntimeError as e:
        print(f"run: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    shm_after = shm_used_bytes()

    try:
        metrics = report.per_layer(rec) if args.trace else report.end_to_end(rec)
    except (KeyError, ValueError) as e:  # no op completed, so there are no samples
        print(f"run: no metrics ({e!r}); failures: {rec['failures'][:20]}", file=sys.stderr)
        return 1
    print_report(rec, args, digest, scratch_kind, (shm_before, shm_after), metrics)
    failures = list(rec["failures"])
    if shm_after > shm_before:
        failures.append(f"/dev/shm grew by {shm_after - shm_before} bytes during the run")
        print(f"FAILED: {failures[-1]}")
    units = dict(report.END_TO_END, **report.PER_LAYER)
    print(json.dumps({
        "correct": not failures,
        "attempted": rec["attempted"],
        "failed": min(rec["attempted"], len(failures)),
        "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
