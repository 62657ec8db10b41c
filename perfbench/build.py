"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM harness (perfbench/harness/src) with the Scala compiler
that ships with Spark, into the build directory of the checkout.

The build is skipped when a stamp of the sources matches. Spark's jars are
found through SPARK_HOME, else through `unmanagedBase` in build.sbt.

    python3 perfbench/build.py        # build (or confirm up to date)
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


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")


def _sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"),
                            recursive=True)
                  + glob.glob(os.path.join(ROOT, "src", "main", "**", "*.java"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "src", "*.scala")))
    return main, harness


def _stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(jars, out, cp, files, log):
    comp = [g for pat in ("scala-compiler-*.jar", "scala-library-*.jar",
                          "scala-reflect-*.jar")
            for g in glob.glob(os.path.join(jars, pat))]
    if len(comp) != 3:
        raise SystemExit(f"perfbench: Scala compiler jars missing in {jars}")
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.dirname(out)}", "-cp", os.pathsep.join(comp),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp,
           "@" + argfile]
    with open(log, "ab") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    os.remove(argfile)
    if r.returncode != 0:
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        raise SystemExit(f"perfbench: compilation failed (log {log})")


def classpath():
    """Build if needed; returns the runtime classpath."""
    jars = spark_jars()
    out = build_dir()
    main, harness = _sources()
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main")
    stamp = _stamp(main + harness, jars)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(tmp)
        log = os.path.join(out, "build.log")
        open(log, "w").close()
        spark_cp = os.path.join(jars, "*")
        _scalac(jars, os.path.join(tmp, "main"), spark_cp, main, log)
        _scalac(jars, os.path.join(tmp, "harness"),
                os.pathsep.join([os.path.join(tmp, "main"), spark_cp]),
                harness, log)
        with open(os.path.join(tmp, "STAMP"), "w") as f:
            f.write(stamp)
        os.rename(tmp, classes)
    res = os.path.join(ROOT, "src", "main", "resources")
    parts = [os.path.join(classes, "harness"), os.path.join(classes, "main")]
    if os.path.isdir(res):
        parts.append(res)
    return os.pathsep.join(parts + [os.path.join(jars, "*")])


if __name__ == "__main__":
    print(classpath())
