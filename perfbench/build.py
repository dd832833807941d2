"""Builds the program and the benchmark harness from source.

The program's sources (`src/main/scala`) and the harness
(`perfbench/scala`) compile in one Scala compiler run into
`<build dir>/classes`. The compiler and every library come from the jar
directory the sbt build declares as `unmanagedBase` in `build.sbt`, so the
benchmark compiles against exactly the jars the project builds with, and
needs no network and no sbt. A stamp over all inputs skips the compile when
nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def jar_dir(root):
    path = os.path.join(root, "build.sbt")
    if not os.path.isfile(path):
        raise SystemExit(f"build: no build.sbt in {root}: not a checkout of the program")
    with open(path) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("build: build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")):
        if not os.path.isdir(base):
            raise SystemExit(f"build: missing source directory {base}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def ensure(root):
    """Compile if any input changed; return (jar of the compiled classes,
    jar dir). A recompile deletes the class-data archive made from the old
    jar (see run.py)."""
    jars = jar_dir(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + [os.path.join(root, "build.sbt")]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "graft-bench.jar")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isfile(jar) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return jar, jars
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    # cwd outside the source tree: scalac puts "." on its classpath
    r = subprocess.run(cmd, cwd=out)
    if r.returncode != 0:
        raise SystemExit(f"build: compiler exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    # one jar, because the JVM archives classes only from jar files
    for stale in (jar, archive_path(root)):
        if os.path.exists(stale):
            os.remove(stale)
    with zipfile.ZipFile(jar + ".partial", "w") as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    os.replace(jar + ".partial", jar)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar, jars


def archive_path(root):
    """Class-data archive of the classes a run loads (made by run.py)."""
    return os.path.join(build_dir(root), "graft-bench.jsa")


if __name__ == "__main__":
    print(ensure(os.getcwd())[0])
