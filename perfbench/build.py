"""Build the program and the benchmark from source with scalac.

The program's sources are `src/main/scala`; the benchmark's are
`perfbench/scala`. Both compile against the Spark distribution's jars
(`$SPARK_HOME/jars`, else the directory build.sbt names as
`unmanagedBase`), which also carry the Scala compiler. Builds land in
`.bench_build/perfbench/<source hash>/` and are reused while the sources
are unchanged.

    python3 perfbench/build.py      # prints the run classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler at {jars}")
    return os.path.join(jars, "*")


def sources(rel):
    base = os.path.join(ROOT, rel)
    return sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))


def _scalac(jars, classpath, out, files, log):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + argfile]
    with open(log, "ab") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        raise BuildError(f"scalac failed for {files[0]}…; see {log}")


def ensure_built():
    """Compile if needed; return the classpath that runs perfbench.Main."""
    main_src = sources(os.path.join("src", "main", "scala"))
    bench_src = sources(os.path.join("perfbench", "scala"))
    if not main_src:
        raise BuildError("program sources not found under src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in main_src + bench_src:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()[:16]
    out = os.path.join(BUILD, stamp)
    main_out, bench_out = os.path.join(out, "main"), os.path.join(out, "bench")
    if not os.path.exists(os.path.join(out, "done")):
        if os.path.isdir(BUILD):
            shutil.rmtree(BUILD)
        os.makedirs(out)
        log = os.path.join(out, "build.log")
        _scalac(jars, jars, main_out, main_src, log)
        _scalac(jars, main_out + os.pathsep + jars, bench_out, bench_src, log)
        open(os.path.join(out, "done"), "w").close()
    return os.pathsep.join([bench_out, main_out, jars])


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
