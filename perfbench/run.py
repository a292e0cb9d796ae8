"""Benchmark of the graft pipeline: one command per run.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark if their sources changed (see
build.py), then starts one JVM that generates the workload's inputs from
the seed, warms up, measures for ``--seconds`` and checks every pass's
output. Prints each metric as ``name value unit`` and, as the last line,
the result object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``. Exits 1 if any check failed and 2
if the run could not be made. All files go under the build directory.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the source tree free of caches
import build  # noqa: E402

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# Fixed heap: -Xms equal to -Xmx and pre-touched, so heap sizing never
# changes during a run.
HEAP = "2g"
# A run must end within this many seconds of starting the JVM.
RUN_LIMIT_S = 170


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, classpath, source_sha, work):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    record = os.path.join(work, "record.json")
    log = os.path.join(work, "jvm.log")
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties"),
            "-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--result", result, "--record", record,
            "--source-sha", source_sha]
    c = commit()
    if c:
        cmd += ["--commit", c]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    t0 = time.time()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], stdout=lf,
                                stderr=subprocess.STDOUT, env=env,
                                cwd=work, start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not os.path.exists(result):
        with open(log, errors="replace") as lf:
            sys.stderr.write(lf.read()[-6000:])
        fail("benchmark process timed out" if rc is None else
             f"benchmark process exited with {rc}")
    with open(result) as f:
        out = json.load(f)
    return out, record


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated launcher still stops the JVM (see run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        s = spec()
        if args.workload not in [w["name"] for w in s["workloads"]]:
            fail(f"unknown workload {args.workload}")
        classpath, source_sha = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        fail(str(e))

    base = os.path.join(build.build_dir(), "perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    records = os.path.join(base, "records")
    os.makedirs(records, exist_ok=True)
    name = os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    try:
        out, record = run_jvm(args, classpath, source_sha, work)
        shutil.copy(record, name + ".json")
    finally:
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), name + ".log")
        shutil.rmtree(work, ignore_errors=True)

    wanted = s["per_layer" if args.trace else "end_to_end"]
    got = out["metrics"]
    for m in wanted:
        if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]:
            fail(f"metric {m['name']} ({m['unit']}) missing from the result")
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        fail(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    for m in wanted:
        v = got[m["name"]]
        print(f"{m['name']} {v['value']} {v['unit']}")
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": got}))
    sys.exit(0 if out["correct"] and out["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
