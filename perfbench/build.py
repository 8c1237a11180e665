"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark
(`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory, into `.bench_build/classes-<hash of the sources>`. A build
whose sources are unchanged is reused. Nothing outside the checkout is
written.

Spark's jars are found through `SPARK_HOME`, or else through the
`unmanagedBase` line of the repository's `build.sbt`.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def _sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "perfbench", "src")]
    for d in dirs:
        if not os.path.isdir(d):
            raise BuildError(f"sources not found: {os.path.relpath(d, root)}")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("Spark jars not found: set SPARK_HOME")


def ensure(root):
    """Returns the directory of compiled classes, building if needed."""
    srcs = _sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    build_dir = os.path.join(root, ".bench_build")
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "BUILD_OK")):
        return out
    os.makedirs(build_dir, exist_ok=True)
    for d in os.listdir(build_dir):
        if d.startswith("classes-"):
            shutil.rmtree(os.path.join(build_dir, d), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(f'"{p}"' for p in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           f"-Djava.io.tmpdir={build_dir}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print("building engine and benchmark ...", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compilation failed ({r.returncode})")
    with open(os.path.join(tmp, "BUILD_OK"), "w") as f:
        f.write("ok\n")
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(ensure(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
