"""Nightly-DAG benchmark: one run of one workload.

    python3 dagbench/run.py --workload nightly-full --seed 7 --seconds 10 --trace 0

Builds the program and the benchmark (see build.py), runs the workload
in one JVM on local[<nproc>], and prints one JSON results line as the
last line of stdout: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. The full record (checks, per-run samples,
loadavg, layer spans) is written to
.bench_build/dagbench/results/<workload>-seed<seed>-trace<t>.json.
Exit code 0 only when every layer call and output check succeeded.

    python3 dagbench/run.py --self-test      # the benchmark's own tests
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[dagbench] {msg}", file=sys.stderr)
    sys.exit(code)


def bench_spec():
    """BENCHMARK.json: the workload names and the metrics to report."""
    try:
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            return json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed")
    p.add_argument("--seconds")
    p.add_argument("--trace")
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args(argv)
    if a.self_test:
        return a
    workloads = [w["name"] for w in bench_spec()["workloads"]]
    if a.workload not in workloads:
        fail(f"unknown or missing --workload {a.workload!r}; "
             f"choose one of {', '.join(workloads)}")
    if a.seed is None or not re.fullmatch(r"-?[0-9]+", a.seed):
        fail(f"--seed must be an integer, got {a.seed!r}")
    if a.seconds is None or not re.fullmatch(r"[0-9]+", a.seconds) or int(a.seconds) < 1:
        fail(f"--seconds must be a positive integer, got {a.seconds!r}")
    if a.trace not in ("0", "1"):
        fail(f"--trace must be 0 or 1, got {a.trace!r}")
    return a


def seed64(seed):
    """Any integer seed as the signed 64-bit value the generator takes."""
    return (int(seed) + 2**63) % 2**64 - 2**63


def java_cmd(classes, main, args, work):
    # serial GC: one collector thread beside local[nproc]; a fixed heap
    # that the collector never resizes, so peak RSS follows the data and
    # not the timing of heap growth
    # no hsperfdata file under /tmp; the VM's own messages go to stderr,
    # so stdout holds only the results line; a metaspace that starts
    # large enough for Spark's generated classes, so they trigger no
    # full collections
    return (["java", "-XX:+UseSerialGC", "-Xms2g", "-Xmx2g", "-Xss16m",
             "-XX:-UsePerfData", "-XX:+DisplayVMOutputToStderr",
             "-XX:MetaspaceSize=256m",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dlog4j2.configurationFile=" +
             os.path.join(build.BENCH_DIR, "log4j2.properties")] +
            [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
            ["-cp", classes + os.pathsep + build.classpath(), main] + args)


def run_jvm(cmd, timeout):
    """Run the JVM in its own process group; return (rc, stdout)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            start_new_session=True, text=True, cwd=build.ROOT)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"run exceeded {timeout} s and was stopped", 3)
    return proc.returncode, out


def check_line(line, trace):
    """The results line must be exactly the contract's shape."""
    r = json.loads(line)
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(r)}")
    if not (isinstance(r["attempted"], int) and r["attempted"] >= 1):
        raise ValueError("attempted must be a whole number >= 1")
    want = {m["name"] for m in bench_spec()["per_layer" if trace == "1" else "end_to_end"]}
    if set(r["metrics"]) != want:
        raise ValueError(f"metrics differ from BENCHMARK.json: "
                         f"{sorted(set(r['metrics']) ^ want)}")
    for name in r["metrics"]:
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
    return r


def main(argv):
    a = parse_args(argv)
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    start = time.monotonic()
    work = os.path.join(build.BUILD_ROOT, "work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        if a.self_test:
            rc, out = run_jvm(java_cmd(classes, "dagbench.SelfTest", [], work), 900)
            sys.stdout.write(out)
            return rc
        record = os.path.join(build.BUILD_ROOT, "results",
                              f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        args = ["--workload", a.workload, "--seed", str(seed64(a.seed)),
                "--seconds", a.seconds,
                "--trace", a.trace, "--work", work, "--out", record,
                "--digests", os.path.join(os.path.dirname(classes), "digests")]
        rc, out = run_jvm(java_cmd(classes, "dagbench.Main", args, work),
                          RUN_TIMEOUT_S - (time.monotonic() - start))
        lines = [l for l in out.splitlines() if l.strip()]
        results = [l for l in lines if l.startswith('{"correct"')]
        for l in lines:
            if l not in results[-1:]:
                print(l, file=sys.stderr)
        if not results:
            fail(f"the run printed no results line (exit code {rc})", rc or 1)
        try:
            r = check_line(results[-1], a.trace)
        except (ValueError, KeyError, TypeError) as e:
            fail(f"malformed results line: {e}", 1)
        print(results[-1], flush=True)
        return 0 if (rc == 0 and r["correct"]) else (rc or 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
