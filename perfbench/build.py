#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles, from the sources in the checkout, first the program
(src/main/scala) and then the benchmark (perfbench/src) with the Scala
compiler that ships among the Spark jars, into .bench_build/. Each output
carries a stamp of its sources' content, so an unchanged tree is not
compiled again and a changed one always is: the benchmark measures the
commit it runs in, never a stale build.

    python3 perfbench/build.py      # from the root of the checkout
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the one build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    if os.path.isfile("build.sbt"):
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def jar_list(jars):
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def scala_files(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compile_tree(name, sources, classpath, jars, extra=""):
    """Compiles `sources` into .bench_build/<name> unless its stamp matches."""
    out = os.path.join(BUILD, name)
    key = stamp(sources, extra + "|" + "|".join(os.path.basename(j) for j in jars))
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.isfile(stamp_file) and open(stamp_file).read() == key:
        return out, key, False
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        raise SystemExit("build: no Scala compiler among the Spark jars")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", ":".join(classpath + jars)] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: compiling {name} failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(key)
    return out, key, True


def build():
    """Returns (classpath, built_now)."""
    program_src = scala_files(os.path.join("src", "main", "scala"))
    resources = os.path.join("src", "main", "resources")
    if not program_src or not os.path.isdir(resources):
        raise SystemExit("build: no program sources in this directory (src/main/scala)")
    jars = jar_list(spark_jars())
    program, key, built1 = compile_tree("program", program_src, [], jars)
    bench_src = scala_files(os.path.relpath(os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")))
    bench, _, built2 = compile_tree("bench", bench_src, [program], jars, extra=key)
    return [bench, program, resources] + jars, built1 or built2


if __name__ == "__main__":
    cp, built = build()
    print("built" if built else "up to date")
