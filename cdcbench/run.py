#!/usr/bin/env python3
"""Run one cdcbench workload; the last line of stdout is its result.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>
    python3 cdcbench/run.py --smoke

Run from the root of a checkout. The first run builds the benchmark (its own
sbt build in this directory, which compiles the engine's sources from
../src/main/scala); later runs reuse the build unless a source changed.
Scratch space is .bench_build/cdcbench/ under the checkout root and is
removed after each run; traced runs leave their spans in
.bench_build/cdcbench/spans/.

--smoke runs every workload at tiny sizes, untraced and traced, checks that
every metric BENCHMARK.json names is printed with its unit, and checks that a
deliberately wrong expected result is reported as failed operations.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_build", "cdcbench")
CLASSPATH = os.path.join(HERE, "target", "cdcbench.classpath")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
DATA = os.path.join(HERE, "data")
WORKLOADS = ["replay", "query_suite"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (the same list as the repo's build.sbt)
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
    print(f"[cdcbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for pattern in ("src/**/*.scala", "build.sbt", "project/build.properties"):
        yield from glob.glob(os.path.join(HERE, pattern), recursive=True)
    yield from glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)


def build():
    """Compile with sbt unless the classpath file is newer than every source."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(p) <= stamp for p in sources()):
            return
    log("building (sbt compile)")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"]
    r = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"cdcbench: build failed (exit {r.returncode})")


def heap():
    """Half of RAM, clamped to 2-8 GiB (the tier-1 test formula)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(workload, seed, seconds, trace, smoke=False, corrupt=False):
    """Run one workload in a fresh JVM; returns (record, result) or exits."""
    work = os.path.join(SCRATCH, f"run-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(SCRATCH, "spans", f"{workload}-seed{seed}.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # a fixed heap and young generation: G1's adaptive sizing otherwise
    # moves the resident peak by a third from run to run
    h = heap()
    cmd = [java, f"-Xms{h}", f"-Xmx{h}", "-Xmn1g", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "cdcbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work,
            "--data", DATA, "--spans", spans]
    if smoke:
        cmd.append("--smoke")
    if corrupt:
        cmd.append("--corrupt-expected")
    # Spark scratch stays in the run directory even where the environment
    # names another (SPARK_LOCAL_DIRS overrides spark.local.dir)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"cdcbench: {workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    record = result = None
    for line in out.splitlines():
        if line.startswith("CDCBENCH_RECORD "):
            record = json.loads(line[len("CDCBENCH_RECORD "):])
        elif line.startswith("CDCBENCH_RESULT "):
            result = json.loads(line[len("CDCBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        sys.exit(f"cdcbench: {workload} exited {proc.returncode} without a result")
    return record, result


def smoke():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)
    problems = []
    for w in WORKLOADS:
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            record, result = run_jvm(w, 1, 2, trace, smoke=True)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {n: m["unit"] for n, m in result["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={int(trace)}: metrics {sorted(set(got) ^ set(want))} "
                                f"or units differ from BENCHMARK.json")
            if not result["correct"] or result["failed"] != 0:
                problems.append(f"{w} trace={int(trace)}: {result['failed']} failed operations")
            for n, m in result["metrics"].items():
                if not isinstance(m["value"], (int, float)):
                    problems.append(f"{w}: {n} has no numeric value")
            if trace and result["metrics"]["trace.fingerprint_mismatch"]["value"] != 0:
                problems.append(f"{w}: traced fingerprint differs from untraced")
            for n, m in result["metrics"].items():
                # named child spans must cover >= 90% of every fence
                if trace and w == "replay" and n.endswith("loop.child_coverage_min") \
                        and m["value"] < 0.9:
                    problems.append(f"{w}: {n} = {m['value']:.3f} < 0.9")
            log(f"smoke {w} trace={int(trace)}: ops={record['ops']} failed={record['ops_failed']}")
        _, bad = run_jvm(w, 1, 2, False, smoke=True, corrupt=True)
        if bad["failed"] == 0 or bad["correct"]:
            problems.append(f"{w}: a wrong expected result was not reported as failed")
        log(f"smoke {w} negative case: failed={bad['failed']} correct={bad['correct']}")
    for p in problems:
        log(f"SMOKE FAIL: {p}")
    print(json.dumps({"smoke": "fail" if problems else "ok", "problems": problems}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(ENGINE_SRC):
        sys.exit("cdcbench: run from the root of a checkout of the engine "
                 "(src/main/scala/graft is missing)")
    if not os.path.isdir(DATA):
        sys.exit(f"cdcbench: query data missing under {DATA}")
    os.makedirs(SCRATCH, exist_ok=True)
    build()
    if a.smoke:
        return smoke()
    record, result = run_jvm(a.workload, a.seed, a.seconds, a.trace == 1)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
