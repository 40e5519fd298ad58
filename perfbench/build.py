"""Compile the engine and the benchmark harness into one class directory.

The engine's sources (src/main/scala, src/main/resources) and the
harness (perfbench/harness) are compiled together by the Scala compiler
that ships with the Spark jars the engine's build.sbt names as its
unmanaged base.  The output lands in .bench_build/perfbench/classes-<hash>,
keyed by a hash of every input file, so an unchanged checkout builds once.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    """The jar directory build.sbt compiles against, else $SPARK_HOME/jars."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jars found (build.sbt unmanagedBase or SPARK_HOME)")


def _files(top, suffix=""):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def build(root):
    """Return (class dir, jar dir), compiling when the sources changed."""
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("perfbench: src/main/scala not found; run from the repository root")
    jars = spark_jars(root)
    sources = _files(main, ".scala") + _files(os.path.join(root, "perfbench", "harness"), ".scala")
    resources = os.path.join(root, "src", "main", "resources")
    h = hashlib.sha256()
    for f in sources + _files(resources):
        h.update(os.path.relpath(f, root).encode())
        h.update(open(f, "rb").read())
    base = os.path.join(root, ".bench_build", "perfbench")
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out, jars
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-cp",
           os.path.join(jars, "*"), "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", tmp] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    for old in os.listdir(base):
        if old.startswith("classes-") and os.path.join(base, old) != tmp:
            shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    os.rename(tmp, out)
    return out, jars


if __name__ == "__main__":
    print(build(os.getcwd())[0])
