"""Build file of the benchmark package: compiles graft's main sources
(``src/main/scala``) together with the benchmark program
(``perfbench/scala``) into one class directory, with the Scala compiler
that ships in Spark's own jar directory -- no sbt, no dependency
resolution.  A stamp of every source's content skips the compile when
nothing changed.

Usage, from the root of a graft checkout::

    python3 perfbench/build.py            # -> .bench_build/graft-bench.jar
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile


def spark_jars():
    """Spark's jar directory: ``$SPARK_HOME/jars``, else the one next to
    ``spark-submit`` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on the PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler among Spark's jars in {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    found = []
    for base in ("src/main/scala", "perfbench/scala"):
        found += glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build(root, out):
    """Returns the jar under ``out``, compiling when stale. (A jar, not a
    class directory, so the JVM can map its classes from a shared
    archive.)"""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src", "main")) for s in srcs):
        raise SystemExit(f"build: no graft sources under {root}/src/main/scala")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    jar = os.path.join(out, "graft-bench.jar")
    stamp_file = os.path.join(out, "graft-bench.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return jar
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(spark_jars(), "*")
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run([java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={out}", "-cp", cp, "scala.tools.nsc.Main",
                    "-deprecation", "-nowarn", "-d", tmp, "-classpath", cp,
                    "@" + argfile], check=True, stdout=sys.stderr)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(tmp)):
            for name in sorted(files):
                z.write(os.path.join(d, name), os.path.relpath(os.path.join(d, name), tmp))
    shutil.rmtree(tmp)
    os.replace(jar + ".tmp", jar)
    # a shared class archive made from the previous jar no longer matches
    for stale in glob.glob(os.path.join(out, "*.jsa")):
        os.remove(stale)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


if __name__ == "__main__":
    root = os.getcwd()
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(root, out))
