#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala` of the checkout) together with the benchmark's own Scala
code (`perfbench/scala`) into one class directory.

    python3 perfbench/build.py          # build into $CARGO_TARGET_DIR or .bench_build

The Spark jars, and the Scala compiler shipped among them, are the ones the
engine's own build uses (`unmanagedBase` in build.sbt). A build is skipped
when the sources have not changed since the last one.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALA_VERSION = "2.13.17"


def jars_dir():
    """The engine build's jar directory (`unmanagedBase := file(...)`)."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise SystemExit(f"perfbench: no unmanagedBase jar directory in {sbt}")
    return m.group(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: engine sources not found at {engine}")
    files = []
    for base in (engine, os.path.join(HERE, "scala")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def resources():
    return sorted(f for f in glob.glob(os.path.join(RESOURCES, "**", "*"),
                                       recursive=True) if os.path.isfile(f))


def compiler_classpath():
    jars = [os.path.join(jars_dir(), f"scala-{m}-{SCALA_VERSION}.jar")
            for m in ("compiler", "library", "reflect")]
    missing = [j for j in jars if not os.path.exists(j)]
    if missing:
        raise SystemExit(f"perfbench: missing compiler jars {missing}")
    return ":".join(jars)


def runtime_classpath(classes):
    return classes + ":" + os.path.join(jars_dir(), "*")


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + resources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.path.join(jars_dir(), "*"), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("perfbench: compile failed")
    for f in resources():   # service registrations (the `graft` data source)
        dst = os.path.join(tmp, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    subprocess.run(["rm", "-rf", classes], check=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
