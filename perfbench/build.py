"""Builds graft and the benchmark's JVM program from source.

Compiles `src/main/scala` of the checkout together with
`perfbench/scala` in one scalac run, using the Scala compiler that
ships with the Spark distribution the repo builds against (the
`unmanagedBase` of the root build.sbt, or `$SPARK_HOME/jars`). Classes
go to `.bench_build/classes`; a stamp over every source file skips the
build when nothing changed.

    python3 perfbench/build.py      # build if needed, print the classpath
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
OUT = os.path.join(ROOT, ".bench_build")


def jars_dir():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = open(os.path.join(ROOT, "build.sbt")).read()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return m.group(1)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not files:
        raise SystemExit(f"no graft sources under {ROOT}/src/main/scala")
    return files + sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                                    recursive=True))


def compiler_jars(jars):
    found = [glob.glob(os.path.join(jars, f"scala-{m}-2.*.jar"))
             for m in ("compiler", "library", "reflect")]
    if not all(found):
        raise SystemExit(f"no Scala compiler among the jars in {jars}")
    return [f[0] for f in found]


def ensure_built():
    """Compile if the sources changed; return the run classpath."""
    files = sources()
    jars = jars_dir()
    h = hashlib.sha256()
    for f in files + compiler_jars(jars):
        h.update(f.encode())
        if f.endswith(".scala"):
            h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    classpath = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", os.pathsep.join(compiler_jars(jars)),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + files
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:])
        raise SystemExit(f"scalac failed with exit code {done.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(ensure_built())
