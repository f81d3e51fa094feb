"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the harness (perfbench/scala) using the Scala compiler that ships in the
Spark distribution's jars, the same jars the engine's sbt build links
against. Output goes to <build_dir>/classes and is reused while no source
file changes.

    python3 perfbench/build.py [BUILD_DIR]
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


def spark_jars():
    """The directory of Spark jars the engine's sbt build links against
    (its `unmanagedBase`)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: no unmanagedBase in build.sbt")
    return m.group(1)


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


def ensure(build_dir):
    """Compiles when the sources changed; returns the classes directory."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    subprocess.run(["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
                    "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-classpath", tmp, "-d", tmp,
                    "@" + args_file], check=True, stdout=sys.stderr)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes


if __name__ == "__main__":
    print(ensure(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))
