"""Build file of the benchmark package: compiles the engine
(`src/main/scala`) and the benchmark harness (`perfbench/harness`) with
the Scala compiler that ships in the Spark distribution named by
`$SPARK_HOME`, into `$CARGO_TARGET_DIR` (default `.bench_build`) of the
checkout. The engine's own build is left alone: no sbt, no edit of
`build.sbt`.

A content hash of all sources is stored next to the classes; a build
whose sources have not changed is skipped.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jars of the Spark distribution named by $SPARK_HOME."""
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("perfbench: SPARK_HOME must name the Spark distribution")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(out, sources, classpath):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-cp", classpath]
    subprocess.run(cmd + sources, check=True, stdout=sys.stderr, cwd=ROOT)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compile what changed; return the classpath of engine + harness."""
    engine_src = _sources(os.path.join(ROOT, "src", "main", "scala"))
    harness_src = _sources(os.path.join(HERE, "harness"))
    if not engine_src:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    out = build_dir()
    engine, harness = os.path.join(out, "engine"), os.path.join(out, "harness")
    stamp = os.path.join(out, "stamp")
    digest = _digest(engine_src + harness_src)
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        os.makedirs(out, exist_ok=True)
        _scalac(engine, engine_src, None)
        _scalac(harness, harness_src, engine)
        with open(stamp, "w") as f:
            f.write(digest)
    return f"{harness}:{engine}:{spark_jars()}/*"


if __name__ == "__main__":
    print(build())
