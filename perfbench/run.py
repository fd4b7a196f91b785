"""Run one benchmark workload in a single JVM on local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the program from source on first use
(perfbench/build.py), generates the workload's inputs from the seed, runs
the closed loop for --seconds and prints, as the last stdout line, one JSON
object with `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1). Exits non-zero when a correctness gate fails or the program
cannot be built. Everything it writes stays under .bench_build/.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_gb():
    """Half of MemTotal, clamped to [2, 8] GiB (the tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def java_cmd(classes, work, main, args):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xmx%dg" % heap_gb(), "-XX:+UseParallelGC", "-Xmn1g", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
            + opens + ["-cp", cp, main] + args)


def expected_names(root, trace):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(cmd, timeout):
    """Run the JVM, echo its stdout, return (exit code, stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    try:
        names = expected_names(root, a.trace)
        classes = build.build(root)
    except (OSError, ValueError, KeyError, RuntimeError) as e:
        print("cannot run the benchmark: %s" % e, file=sys.stderr)
        return 2

    work = os.path.join(root, build.BUILD_DIR, "run-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.selftest:
            code, lines = run_jvm(java_cmd(classes, work, "graft.perfbench.SelfTest",
                                           [work, os.path.join(BENCH, "workloads.json")]),
                                  JVM_TIMEOUT_S)
            print("\n".join(lines))
            return code
        if not a.workload:
            ap.error("--workload is required")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--workloads", os.path.join(BENCH, "workloads.json"),
                "--dir", work]
        if a.trace:
            args += ["--spans", os.path.join(root, build.BUILD_DIR, "traces",
                                             "%s-seed%d.spans.jsonl" % (a.workload, a.seed))]
        code, lines = run_jvm(java_cmd(classes, work, "graft.perfbench.Main", args),
                              JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("benchmark timed out after %ds" % JVM_TIMEOUT_S, file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        print("\n".join(lines))
        print("benchmark printed no result (exit %d)" % code, file=sys.stderr)
        return code or 4
    print("\n".join(lines[:-1]))
    # every emitted name is well-formed and exactly the set BENCHMARK.json lists
    emitted = list(result["metrics"])
    bad = [n for n in emitted if not NAME_RE.match(n)]
    missing = [n for n in names if n not in result["metrics"]]
    extra = [n for n in emitted if n not in names]
    nulls = [n for n, m in result["metrics"].items() if m["value"] is None]
    if bad or missing or extra or nulls:
        print("metric names do not match BENCHMARK.json: bad=%s missing=%s extra=%s null=%s"
              % (bad, missing, extra, nulls), file=sys.stderr)
        result["attempted"] += 1
        result["failed"] += 1
        result["correct"] = False
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] and code == 0 else (code or 1)


if __name__ == "__main__":
    sys.exit(main())
