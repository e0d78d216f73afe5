#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's main sources and the
benchmark's JVM harness (bench/scala) with the Scala compiler shipped in the
Spark distribution, into two jars under .bench_build/ of the checkout (jars,
not class directories, so the JVM can map their classes from a class-data
sharing archive). A build is keyed by a hash of every source file, so an
unchanged tree is not rebuilt.

Usage: python3 bench/build.py      (prints the runtime classpath)
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile


def spark_jars():
    """The jar directory of the Spark distribution: $SPARK_HOME, else the
    first spark-submit on the PATH that sits in a distribution with jars."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    raise FileNotFoundError("no Spark distribution: set SPARK_HOME or put its spark-submit on the PATH")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "bench/scala/*.scala")))
    return main, bench


def scalac(jar, classpath, files):
    compiler = [os.path.join(spark_jars(), j) for j in os.listdir(spark_jars())
                if j.startswith(("scala-compiler", "scala-reflect", "scala-library"))]
    with tempfile.TemporaryDirectory(dir=os.path.dirname(jar)) as out:
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + out,
               "-cp", ":".join(compiler), "scala.tools.nsc.Main",
               "-nowarn", "-usejavacp:false", "-classpath", classpath, "-d", out] + files
        subprocess.run(cmd, check=True, stdout=sys.stderr)
        with zipfile.ZipFile(jar, "w") as z:
            for d, _, names in sorted(os.walk(out)):
                for n in sorted(names):
                    z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), out))


def build(root):
    """Compile if needed; returns the runtime classpath."""
    main, bench = sources(root)
    if not main or not bench:
        raise FileNotFoundError("graft sources (src/main/scala) or bench/scala not found under " + root)
    digest = hashlib.sha256()
    for f in main + bench:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    jars = ":".join(sorted(glob.glob(os.path.join(spark_jars(), "*.jar"))))
    target = os.path.join(root, ".bench_build", "classes-" + digest.hexdigest()[:16])
    main_jar, bench_jar = os.path.join(target, "graft.jar"), os.path.join(target, "bench.jar")
    if not os.path.isfile(os.path.join(target, "done")):
        for old in glob.glob(os.path.join(root, ".bench_build", "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(target)
        scalac(main_jar, jars, main)
        scalac(bench_jar, main_jar + ":" + jars, bench)
        open(os.path.join(target, "done"), "w").close()
    return ":".join([bench_jar, main_jar, jars])


if __name__ == "__main__":
    print(build(os.getcwd()))
