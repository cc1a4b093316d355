"""Build file of the benchmark package: compiles the repository's main
sources together with the benchmark harness (`harness/*.scala`) into one
class directory, with the Scala compiler that ships among the Spark jars.

The output is keyed by a hash of every source file, so an unchanged tree
is built once per checkout. Usage: `python3 perfbench/build.py [repo]`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(repo):
    """The Spark jar directory: $SPARK_HOME/jars, else the repository build's
    own `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(repo, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")
    return m.group(1)


def sources(repo):
    files = sorted(glob.glob(os.path.join(repo, "src/main/scala/**/*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return files


def build(repo, build_root):
    """Compile if needed; return the classpath to run the harness with."""
    jars = os.path.join(spark_jars(repo), "*")
    srcs = sources(repo)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("perfbench: no src/main/scala under " + repo)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, repo).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(build_root, "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, ".done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
             "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", jars]
            + srcs,
            check=True, stdout=sys.stderr)
        open(os.path.join(out, ".done"), "w").close()
    return out + os.pathsep + jars


if __name__ == "__main__":
    repo = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")
    print(build(repo, os.path.join(repo, ".bench_build")))
