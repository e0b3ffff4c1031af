"""Build file of the benchmark: compiles graft and the benchmark program.

graft (`src/main/scala`) and the benchmark (`perfbench/src`) are compiled
with the Scala compiler that ships among the Spark jars — the directory the
project's build.sbt names as `unmanagedBase` — into
`<build dir>/graft` and `<build dir>/bench`. Each output carries a stamp of
its sources' content hash, so an unchanged tree is not compiled twice.

    python3 perfbench/build.py            # builds into .bench_build/perfbench
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def scala_files(src):
    out = []
    for d, _, files in os.walk(src):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def content_hash(files, extra=""):
    h = hashlib.sha1(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_setting(pattern, what):
    """A value of the project's build.sbt."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(pattern, fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit(f"perfbench: build.sbt with {what} not found")
    return m.group(1)


def spark_jars():
    """The jar directory of the project's build (`unmanagedBase`)."""
    return sbt_setting(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', "an unmanagedBase jar directory")


def spark_classpath():
    return os.path.join(spark_jars(), "*")


def compile_into(out, files, classpath, stamp):
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    classes = os.path.join(out, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    scala = sbt_setting(r'scalaVersion\s*:=\s*"([^"]+)"', "a scalaVersion")
    compiler = ":".join(os.path.join(spark_jars(), f"scala-{m}-{scala}.jar")
                        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", classes] + files
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compiling {os.path.relpath(out, ROOT)} failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def build():
    """Compile graft and the benchmark if their sources changed; return the
    run-time classpath."""
    graft_files = scala_files(GRAFT_SRC)
    bench_files = scala_files(BENCH_SRC)
    if not graft_files or not bench_files:
        raise SystemExit("perfbench: graft sources (src/main/scala) not found")
    out = build_dir()
    graft_out = os.path.join(out, "graft")
    bench_out = os.path.join(out, "bench")
    graft_stamp = content_hash(graft_files)
    compile_into(graft_out, graft_files, spark_classpath(), graft_stamp)
    graft_classes = os.path.join(graft_out, "classes")
    compile_into(bench_out, bench_files,
                 spark_classpath() + ":" + graft_classes,
                 content_hash(bench_files, graft_stamp))
    return ":".join([os.path.join(bench_out, "classes"), graft_classes,
                     GRAFT_RES, spark_classpath()])


if __name__ == "__main__":
    print(build())
