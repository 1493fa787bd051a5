#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload search-hot --seed 1 --seconds 5 --trace 0

Run from the root of the checkout. The first run compiles the program and
the harness with sbt (offline); later runs reuse the build while no source
file changed. With --trace 0 the last stdout line is the end-to-end result,
with --trace 1 the per-layer result of a traced replay; both are one JSON
object {"correct", "attempted", "failed", "metrics"}. Every metric is also
printed above it by name with its unit. Exits 1 when any output was wrong,
2 when the checkout holds no program to build, 3 when the run failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import tables  # noqa: E402
import trace_summary  # noqa: E402

WORKLOADS = ("search-hot", "ingest-live", "batch-registry")
BUILD_DIR = os.path.join(".bench_build", "perfbench")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# What the program needs from a JDK 17 launch outside spark-submit; the
# same list as the program's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(root)
            for f in fs if "target" not in d.split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")) or os.path.dirname(p).endswith("resources"):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd="perfbench", env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(3, f"build timed out after {BUILD_TIMEOUT_S} s; see {log_path}")
        log.write(out)
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        fail(3, f"build failed; see {log_path}")
    cps = [ln.strip() for ln in out.splitlines()
           if ln.strip().endswith(".jar") or (".jar:" in ln and not ln.startswith("["))]
    if not cps:
        fail(3, f"build printed no classpath; see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def stop(proc):
    """Kill the process group `proc` leads and wait for it to end."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def cpu_times():
    """The aggregate `cpu` line of /proc/stat: jiffies by state."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def heap():
    """MemTotal/2 clamped to 2-8 GiB: the repo's tier-1 test heap formula."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")
            and os.path.isfile("perfbench/build.sbt")):
        fail(2, "run from the root of a checkout that holds the program (build.sbt, src/main/scala)")

    classpath = build()
    nproc = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}"
    work = os.path.abspath(os.path.join(BUILD_DIR, "work", f"{tag}-{os.getpid()}"))
    trace_dir = os.path.join(BUILD_DIR, "traces")
    trace_out = os.path.abspath(os.path.join(trace_dir, f"{tag}.jsonl"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(trace_dir, exist_ok=True)
    if args.workload == "batch-registry":
        tables.write(os.path.join(work, "tables"), args.seed)
    mem = heap()
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{mem}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--nproc", str(nproc), "--work", work,
            "--trace-out", trace_out]

    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    cpu0 = cpu_times()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            env=env, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        shutil.rmtree(work, ignore_errors=True)
        fail(3, f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            stop(proc)
    lines = [ln for ln in out.splitlines() if ln.startswith("@@result ")]
    if proc.returncode != 0 or not lines:
        shutil.rmtree(work, ignore_errors=True)
        sys.stderr.write(out[-4000:])
        fail(3, f"run failed (exit {proc.returncode})")
    res = json.loads(lines[-1][len("@@result "):])
    attempted, failed = int(res["attempted"]), int(res["failed"])
    if args.workload == "batch-registry":
        # each entry's warm-up result against its DuckDB oracle, untimed
        verdicts = tables.check(os.path.join(work, "tables"), os.path.join(work, "results"))
        for entry, err in sorted(verdicts.items()):
            if err:
                print(f"perfbench: wrong: {entry}: {err}", file=sys.stderr)
        attempted += len(verdicts)
        failed += sum(1 for err in verdicts.values() if err)
        res["facts"]["oracle_checked_entries"] = len(verdicts)
    shutil.rmtree(work, ignore_errors=True)

    facts = res["facts"]
    # Time the hypervisor gave this machine's CPUs to other guests: loadavg
    # does not show it, and it slows a run as much as a local load would.
    delta = [b - a for a, b in zip(cpu0, cpu_times())]
    facts["cpu_steal_share"] = round(delta[7] / max(1, sum(delta[:8])), 4)
    print(f"host: nproc={nproc} heap={mem} load1m before={facts['load1m_before']} "
          f"after={facts['load1m_after']}")
    for k in sorted(facts):
        if k not in ("load1m_before", "load1m_after"):
            print(f"fact {k} = {facts[k]}")
    if args.trace:
        header, spans, jobs = trace_summary.load(trace_out)
        metrics = trace_summary.per_layer(header, spans, jobs)
        trace_summary.print_summary(header, spans, jobs)
        print(f"trace: {trace_out}")
    else:
        metrics = res["metrics"]
    print(f"metric error_rate = {failed / attempted if attempted else 1.0:.6f} ratio "
          f"({failed} of {attempted} operations failed or were wrong)")
    for name in sorted(metrics):
        m = metrics[name]
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    correct = failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
