"""Builds the benchmark: compiles the repo's main sources, then the
benchmark's own sources, with the Scala compiler that ships in Spark's jar
directory: $SPARK_HOME/jars, or else the `unmanagedBase` that build.sbt
names. Output goes to `<out>/main` and `<out>/bench`; a source hash stamp
skips a build whose inputs have not changed.

    python3 perfbench/build.py [out_dir]     # default .bench_build
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise OSError("no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def sources(top, suffix=".scala"):
    found = []
    for dirpath, _, files in os.walk(top):
        found += [os.path.join(dirpath, f) for f in files if f.endswith(suffix)]
    return sorted(found)


def digest(paths, root, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_once(jars, srcs, classpath, dest, stamp, resources=None):
    stamp_file = os.path.join(dest, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath] + srcs
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def build(root, out):
    """Compile what changed; return the run-time classpath and the hash of
    the program's and the benchmark's sources."""
    jars = spark_jars(root)
    spark_cp = os.path.join(jars, "*")
    main_srcs = sources(os.path.join(root, "src", "main", "scala"))
    resources = os.path.join(root, "src", "main", "resources")
    bench_srcs = sources(os.path.join(root, "perfbench", "src"))
    main_dir = os.path.join(out, "main")
    bench_dir = os.path.join(out, "bench")
    main_stamp = digest(main_srcs + sources(resources, ""), root)
    compile_once(jars, main_srcs, spark_cp, main_dir, main_stamp, resources)
    stamp = digest(bench_srcs, root, main_stamp)
    compile_once(jars, bench_srcs, spark_cp + os.pathsep + main_dir, bench_dir, stamp)
    return os.pathsep.join([bench_dir, main_dir, spark_cp]), stamp


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                                             else ".bench_build"))[0])
