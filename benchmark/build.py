"""Build file of the benchmark package: compiles the engine's main sources
together with the benchmark's own Scala sources into one jar.

Both are compiled from source with the Scala compiler that ships with the
Spark distribution the engine builds against (the root ``build.sbt``'s
``unmanagedBase``, or ``$SPARK_HOME/jars``). The output is keyed by a hash of
every source file, so a rebuild happens only when a source changed.

    python3 benchmark/build.py        # prints the jar
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")


class BuildError(Exception):
    pass


def target_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "benchmark")


def jar_dir():
    """Spark's jar directory: the root build's ``unmanagedBase`` if it names
    one that exists, else ``$SPARK_HOME/jars``."""
    candidates = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if os.path.isdir(c) and any(f.startswith("scala-compiler") for f in os.listdir(c)):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler found")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources missing: {os.path.relpath(ENGINE_SRC, ROOT)}")
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for dirpath, _, names in os.walk(base):
            out += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def stamp(files, jars):
    h = hashlib.sha256()
    h.update(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(jars):
    return os.path.join(jars, "*")


def build(log=sys.stderr):
    """Compile if the sources changed; return (jar, Spark jar dir, stamp)."""
    files = sources()
    jars = jar_dir()
    key = stamp(files, jars)
    tdir = target_dir()
    jar = os.path.join(tdir, "graftbench.jar")
    stamp_file = os.path.join(tdir, "stamp")
    if os.path.exists(stamp_file) and os.path.exists(jar):
        with open(stamp_file) as f:
            if f.read() == key:
                return jar, jars, key
    tmp = os.path.join(tdir, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[build] compiling {len(files)} Scala sources", file=log, flush=True)
    argfile = os.path.join(tdir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tdir}",
         "-cp", classpath(jars), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    # a jar, not a class directory: the JVM archives class data only from jars
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, names in sorted(os.walk(tmp)):
            for n in sorted(names):
                path = os.path.join(dirpath, n)
                z.write(path, os.path.relpath(path, tmp))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(key)
    return jar, jars, key


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
