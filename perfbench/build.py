#!/usr/bin/env python3
"""Build file of the lake benchmark: compiles the engine (src/main/scala)
and the benchmark harness (perfbench/src) with the Scala compiler that
ships with the Spark jars, into .bench_build/classes.

Usage, from the repository root:  python3 perfbench/build.py

The build is skipped when a stamp over every source file matches the last
successful build. The Spark 4 jars are taken from SPARK_JARS, else
$SPARK_HOME/jars, else the `unmanagedBase` directory named in build.sbt
(the same jars the sbt build compiles against).
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def jars_dir(root="."):
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        top = os.path.join(root, base)
        if not os.path.isdir(top):
            raise SystemExit(f"build: missing source directory {base}")
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def stamp(files, root):
    h = hashlib.sha256()
    for f in files + resources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def resources(root):
    top = os.path.join(root, "src/main/resources")
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build(root="."):
    """Compile if needed; return (classes dir, build seconds or 0)."""
    root = os.path.abspath(root)
    jars = jars_dir(root)
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found (got {jars!r}); "
                         "set SPARK_JARS")
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src/main/scala")) for f in files):
        raise SystemExit("build: no engine sources under src/main/scala")
    bdir = os.path.join(root, BUILD_DIR)
    classes = os.path.join(bdir, "classes")
    stamp_file = os.path.join(bdir, "classes.stamp")
    want = stamp(files, root)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes, 0.0
    import time
    t0 = time.time()
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(bdir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    for f in resources(root):
        dst = os.path.join(classes, os.path.relpath(
            f, os.path.join(root, "src/main/resources")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes, time.time() - t0


if __name__ == "__main__":
    c, s = build(".")
    print(f"classes at {c} (built in {s:.1f}s)" if s else f"up to date: {c}")
