"""Build file of the benchmark package: compiles the program
(``src/main/scala`` of the checkout) together with the benchmark's own
JVM sources (``perfbench/src/main/scala``) with the Scala compiler that
ships in the Spark distribution, and copies the program's resources.
The output is reused while no source file changes.

    python3 perfbench/build.py          # from the root of a checkout
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The jar directory of a Spark distribution that ships the Scala
    compiler: ``$SPARK_HOME``, else the first ``spark-submit`` on the PATH
    whose distribution has one."""
    bins = [d for d in os.environ.get("PATH", "").split(os.pathsep)
            if os.path.isfile(os.path.join(d, "spark-submit"))]
    homes = [os.environ.get("SPARK_HOME", "")] + [os.path.dirname(os.path.realpath(d)) for d in bins]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler; set SPARK_HOME")


def classpath(*extra):
    return os.pathsep.join(list(extra) + [os.path.join(spark_jars(), "*")])


def _sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: no program sources at {main}; run from the root of a checkout")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "main", "scala", "**", "*.scala"), recursive=True))
    return files


def ensure(root, out_dir):
    """Compiled classes directory for the checkout at ``root``."""
    files = _sources(root)
    resources = os.path.join(root, "src", "main", "resources")
    res_files = sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files + [r for r in res_files if os.path.isfile(r)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(out_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    for old in glob.glob(os.path.join(out_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out_dir, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", classpath(), "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    open(os.path.join(classes, ".done"), "w").close()
    return classes


if __name__ == "__main__":
    print(ensure(os.getcwd(), os.path.join(os.getcwd(), ".bench_build")))
