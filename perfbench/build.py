"""Build the program and the benchmark with the Scala compiler that ships
with Spark, without sbt.

Two class directories are built under the build directory
(``$CARGO_TARGET_DIR``, the conventional build-output variable, or
``.bench_build``), each tagged with a hash of its sources so an
unchanged tree is not compiled twice:

* ``perfbench/program`` -- the program, ``src/main/scala``;
* ``perfbench/bench``   -- the benchmark, ``perfbench/src``, against it.

Spark's jars are found through ``$SPARK_HOME`` (or the ``spark-submit``
on ``PATH``). Run directly to build: ``python3 perfbench/build.py``.
"""

import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME")
    return jars


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, files, out, log):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(classpath)]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd + files, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise BuildError(f"scalac failed ({rc}); see {log}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compile what changed; return (classpath entries, program source hash)."""
    jars = spark_jars()
    base = os.path.join(build_dir(), "perfbench")
    os.makedirs(base, exist_ok=True)
    prog_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not prog_src:
        raise BuildError("no program sources under src/main/scala")
    bench_src = sources(os.path.join(BENCH_DIR, "src"))
    compiler = os.path.basename(jars) + ":" + ",".join(
        sorted(f for f in os.listdir(jars) if f.startswith("scala-")))

    prog_hash = digest(prog_src, compiler)
    bench_hash = digest(bench_src, prog_hash)
    steps = [("program", prog_src, [], prog_hash),
             ("bench", bench_src, [os.path.join(base, "program")], bench_hash)]
    for name, files, cp, h in steps:
        out = os.path.join(base, name)
        stamp = out + ".sha256"
        if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == h:
            continue
        sys.stderr.write(f"[perfbench] compiling {name} ({len(files)} files)\n")
        scalac(jars, cp, files, out, os.path.join(base, f"{name}-build.log"))
        with open(stamp, "w") as f:
            f.write(h)

    classpath = [os.path.join(base, "program"), os.path.join(base, "bench")]
    resources = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(resources):
        classpath.append(resources)
    classpath.append(os.path.join(jars, "*"))
    return classpath, prog_hash


if __name__ == "__main__":
    try:
        cp, h = build()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
    print(os.pathsep.join(cp))
